#!/usr/bin/env python3
"""Code-line change between two git revisions, per file under src/main and src/test.

    python3 tools/loc.py REV_A REV_B

A code line is a non-blank line whose trimmed text does not start with
`//`, `/*` or `*`, so comments and scaladoc count for neither side: a
refactor that only deletes comments shows no reduction. Prints one row per
changed file (code lines at REV_A, at REV_B, and the change), then a total
per tree. Read-only: file contents come from `git show REV:PATH`.
"""
import subprocess
import sys

TREES = ("src/main", "src/test")


def git(*args):
    return subprocess.run(("git",) + args, check=True, capture_output=True,
                          text=True).stdout


def code_lines(rev, path):
    """Code lines of `path` at `rev`; 0 when the file does not exist there."""
    try:
        text = git("show", f"{rev}:{path}")
    except subprocess.CalledProcessError:
        return 0
    n = 0
    for line in text.splitlines():
        t = line.strip()
        if t and not t.startswith(("//", "/*", "*")):
            n += 1
    return n


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__.strip())
    a, b = sys.argv[1], sys.argv[2]
    changed = git("diff", "--name-only", a, b, "--", *TREES).split()
    totals = {t: [0, 0] for t in TREES}
    print(f"{'file':<64} {a[:10]:>10} {b[:10]:>10} {'change':>7}")
    for path in sorted(changed):
        na, nb = code_lines(a, path), code_lines(b, path)
        tree = next(t for t in TREES if path.startswith(t + "/"))
        totals[tree][0] += na
        totals[tree][1] += nb
        print(f"{path:<64} {na:>10} {nb:>10} {nb - na:>+7}")
    for tree, (na, nb) in totals.items():
        print(f"{'total ' + tree + ' (changed files)':<64} {na:>10} {nb:>10} {nb - na:>+7}")


if __name__ == "__main__":
    main()
