"""Count engine code lines: the size figure CHANGES.md compares across changes.

A physical line counts when it holds a token that is not a comment, a
newline, an indent or a dedent. A logical line made of string tokens
alone (a docstring, or a bare string statement) does not count. A
multi-line token counts every line it spans.

Usage:
    python tools/count_code_lines.py [ROOT ...]   # default: mysteryann_spark
    python tools/count_code_lines.py -v           # also one line per file
"""

from __future__ import annotations

import sys
import tokenize
from pathlib import Path

_SKIP = {
    tokenize.ENCODING,
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.INDENT,
    tokenize.DEDENT,
}
_END = {tokenize.NEWLINE, tokenize.ENDMARKER}


def code_lines(path: Path) -> int:
    lines: set[int] = set()
    logical: list[tokenize.TokenInfo] = []
    with path.open("rb") as f:
        for tok in tokenize.tokenize(f.readline):
            if tok.type in _END:
                if any(t.type != tokenize.STRING for t in logical):
                    for t in logical:
                        lines.update(range(t.start[0], t.end[0] + 1))
                logical = []
            elif tok.type not in _SKIP:
                logical.append(tok)
    return len(lines)


def main(argv: list[str]) -> int:
    verbose = "-v" in argv
    roots = [a for a in argv if a != "-v"] or [
        str(Path(__file__).resolve().parent.parent / "mysteryann_spark")
    ]
    total = 0
    for root in roots:
        for path in sorted(Path(root).rglob("*.py")):
            n = code_lines(path)
            total += n
            if verbose:
                print(f"{n:7d} {path}")
    print(total)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
