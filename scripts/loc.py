#!/usr/bin/env python
"""Line counts of the ``sparkcodec/`` package, the same way every time.

For each module it prints the code lines -- lines holding a token that is
not a comment, a docstring or layout (blank lines, newlines, indents) --
and the raw line count.  With ``--rev`` it also prints both counts at that
git revision and the net delta, per module and in total.

    python scripts/loc.py                 # counts of the working tree
    python scripts/loc.py --rev HEAD~1    # ... and the delta against HEAD~1
"""
from __future__ import annotations

import argparse
import io
import os
import subprocess
import sys
import tokenize

PACKAGE = "sparkcodec"
_LAYOUT = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
           tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}
_STATEMENT_START = {tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT,
                    tokenize.ENCODING}


def code_lines(source: str) -> int:
    """Lines of ``source`` that hold code: a docstring is a string token
    that is a statement on its own (it starts a statement and ends one)."""
    toks = [t for t in tokenize.generate_tokens(io.StringIO(source).readline)
            if t.type not in (tokenize.COMMENT, tokenize.NL)]
    lines: set[int] = set()
    for i, t in enumerate(toks):
        if t.type in _LAYOUT:
            continue
        if (t.type == tokenize.STRING
                and (i == 0 or toks[i - 1].type in _STATEMENT_START)
                and i + 1 < len(toks) and toks[i + 1].type == tokenize.NEWLINE):
            continue
        lines.update(range(t.start[0], t.end[0] + 1))
    return len(lines)


def _count(source: str) -> tuple[int, int]:
    return code_lines(source), len(source.splitlines())


def counts_in_tree(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(os.path.join(root, PACKAGE)):
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    out[os.path.relpath(p, root)] = _count(fh.read())
    return out


def counts_at_rev(root: str, rev: str) -> dict[str, tuple[int, int]]:
    def git(*args: str) -> str:
        return subprocess.run(["git", "-C", root, *args], check=True,
                              capture_output=True, text=True).stdout

    names = [n for n in git("ls-tree", "-r", "--name-only", rev, PACKAGE + "/")
             .splitlines() if n.endswith(".py")]
    return {n: _count(git("show", f"{rev}:{n}")) for n in names}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rev", help="git revision to report the delta against")
    args = ap.parse_args(argv)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    now = counts_in_tree(root)
    then = counts_at_rev(root, args.rev) if args.rev else {}
    zero = (0, 0)
    rows = []
    for name in sorted(set(now) | set(then)):
        (c, r), (c0, r0) = now.get(name, zero), then.get(name, zero)
        if args.rev and (c, r) == (c0, r0):
            continue
        rows.append((name, c, r, c0, r0))
    tot = [sum(x[k] for x in now.values()) for k in (0, 1)]
    tot0 = [sum(x[k] for x in then.values()) for k in (0, 1)]
    if args.rev:
        print(f"{'module':<40} {'code':>6} {'lines':>6} "
              f"{'code@rev':>9} {'lines@rev':>10} {'d_code':>7} {'d_lines':>8}")
        for name, c, r, c0, r0 in rows:
            print(f"{name:<40} {c:>6} {r:>6} {c0:>9} {r0:>10} "
                  f"{c - c0:>+7} {r - r0:>+8}")
        print(f"{'total ' + PACKAGE + '/':<40} {tot[0]:>6} {tot[1]:>6} "
              f"{tot0[0]:>9} {tot0[1]:>10} {tot[0] - tot0[0]:>+7} "
              f"{tot[1] - tot0[1]:>+8}")
    else:
        print(f"{'module':<40} {'code':>6} {'lines':>6}")
        for name, c, r, _, _ in rows:
            print(f"{name:<40} {c:>6} {r:>6}")
        print(f"{'total ' + PACKAGE + '/':<40} {tot[0]:>6} {tot[1]:>6}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
