"""Count the package's code lines: lines that hold a token other than a
comment, a docstring or layout (blank lines and bare newlines).

Usage: python tools/loc.py [dir]   (default: kafka_firehose_nozzle_spark)

A docstring is any string that stands alone as a statement.
"""

from __future__ import annotations

import pathlib
import sys
import tokenize

LAYOUT = {tokenize.NL, tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT,
          tokenize.COMMENT, tokenize.ENCODING, tokenize.ENDMARKER}
STATEMENT_START = {tokenize.ENCODING, tokenize.NEWLINE, tokenize.INDENT,
                   tokenize.DEDENT}


def code_lines(path: pathlib.Path) -> int:
    """Lines of ``path`` that carry code."""
    with path.open("rb") as f:
        toks = [t for t in tokenize.tokenize(f.readline)
                if t.type not in (tokenize.NL, tokenize.COMMENT)]
    lines = set()
    for prev, t, nxt in zip(toks, toks[1:], toks[2:]):
        docstring = (t.type == tokenize.STRING and nxt.type == tokenize.NEWLINE
                     and prev.type in STATEMENT_START)
        if not docstring and t.type not in LAYOUT:
            lines.update(range(t.start[0], t.end[0] + 1))
    return len(lines)


def main(root: str = "kafka_firehose_nozzle_spark") -> int:
    return sum(code_lines(p) for p in sorted(pathlib.Path(root).rglob("*.py")))


if __name__ == "__main__":
    print(main(*sys.argv[1:]))
