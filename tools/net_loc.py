#!/usr/bin/env python3
"""Net lines of code between two git revisions, for src/main and src/test.

    tools/net_loc.py <base> [<head>]

<head> defaults to the working tree (untracked files included). For each
tree the script prints physical lines added and removed, and the same for
code lines: a line counts as code unless it is blank, a `//` comment, or
part of a `/* */` or `/** */` comment block. A line with code before a
trailing comment counts as code. Added and removed lines come from a line
diff of each changed file, so a moved block counts as removed and added.
Binary files (test fixtures) are skipped.
"""
import difflib
import subprocess
import sys
from pathlib import Path

TREES = ("src/main", "src/test")


def git(*args):
    return subprocess.run(("git",) + args, check=True, capture_output=True,
                          text=True).stdout


def changed_files(base, head):
    if head:
        names = git("diff", "--name-only", base, head, "--", *TREES).split()
    else:
        names = git("diff", "--name-only", base, "--", *TREES).split()
        names += git("ls-files", "--others", "--exclude-standard", "--",
                     *TREES).split()
    return sorted(set(names))


def content(rev, name):
    """The file's text at `rev` (None: the working tree); "" when it does
    not exist there, None when it is binary."""
    if rev is None:
        p = Path(name)
        data = p.read_bytes() if p.exists() else b""
    else:
        r = subprocess.run(("git", "show", f"{rev}:{name}"),
                           capture_output=True)
        data = r.stdout if r.returncode == 0 else b""
    try:
        text = data.decode("utf-8")
    except UnicodeDecodeError:
        return None
    return None if "\0" in text else text


def code_lines(text):
    out, in_block = [], False
    for line in text.splitlines():
        s = line.strip()
        if in_block:
            if "*/" in s:
                in_block = False
                rest = s.split("*/", 1)[1].strip()
                if rest and not rest.startswith("//"):
                    out.append(line)
            continue
        if not s or s.startswith("//"):
            continue
        if s.startswith("/*"):
            if "*/" not in s[2:]:
                in_block = True
            else:
                rest = s[2:].split("*/", 1)[1].strip()
                if rest and not rest.startswith("//"):
                    out.append(line)
            continue
        out.append(line)
    return out


def delta(old, new):
    added = removed = 0
    ops = difflib.SequenceMatcher(None, old, new, autojunk=False).get_opcodes()
    for tag, i1, i2, j1, j2 in ops:
        if tag in ("replace", "delete"):
            removed += i2 - i1
        if tag in ("replace", "insert"):
            added += j2 - j1
    return added, removed


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__)
    base, head = argv[1], (argv[2] if len(argv) == 3 else None)
    totals = {t: [0, 0, 0, 0] for t in TREES}
    for name in changed_files(base, head):
        tree = next(t for t in TREES if name.startswith(t + "/"))
        old, new = content(base, name), content(head, name)
        if old is None or new is None:
            continue
        pa, pr = delta(old.splitlines(), new.splitlines())
        ca, cr = delta(code_lines(old), code_lines(new))
        for i, v in enumerate((pa, pr, ca, cr)):
            totals[tree][i] += v
    print(f"{base}..{head or 'working tree'}")
    for tree, (pa, pr, ca, cr) in totals.items():
        print(f"{tree:9} physical +{pa} -{pr} = {pa - pr:+d}   "
              f"code +{ca} -{cr} = {ca - cr:+d}")


if __name__ == "__main__":
    main(sys.argv)
