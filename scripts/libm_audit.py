#!/usr/bin/env python3
"""Audit: find every cross-row accumulation (sum/avg, incl. window forms)
whose argument contains a libm-produced term (ln/log/exp/trig/pow —
anything NOT IEEE-correctly-rounded; sqrt and arithmetic are exempt).

The seed-122 bug class (round 15, q175/q242): each libm term carries
~1-ulp cross-engine drift, and SUMMING raw terms walks the drift onto a
rounding-grid boundary. The repo convention is to quantize every libm
term to nano-int (Parity.quant: floor(x*1e9+0.5) as long) BEFORE the sum.

This script extracts candidate sites for adjudication; the enforcement
lint lives in LibmSumLintSpec.scala (same scan re-implemented in Scala
against an explicit allowlist). Usage: python3 scripts/libm_audit.py
"""
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SRC = ROOT / "src" / "main" / "scala" / "graft"

# libm producers whose results are not correctly rounded per IEEE-754.
# sqrt is correctly rounded -> exempt. floor/abs/round are exact.
LIBM = re.compile(
    r"\b(ln|log|log10|log2|log1p|exp|expm1|sin|cos|tan|asin|acos|atan|"
    r"atan2|sinh|cosh|tanh|pow|power|cbrt)\s*\(",
    re.IGNORECASE,
)
ACC = re.compile(r"\b(sum|avg|mean)\s*\(", re.IGNORECASE)
# quantize wrapper evidence inside the accumulated argument
QUANT = re.compile(r"floor\s*\(|Parity\.(?:quant|fix)(?:Sql)?\s*\(",
                   re.IGNORECASE)


def balanced_arg(text: str, open_idx: int) -> str:
    """Return text of the balanced-paren argument starting at '(' index."""
    depth = 0
    for j in range(open_idx, len(text)):
        c = text[j]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return text[open_idx : j + 1]
    return text[open_idx:]


def line_of(text: str, idx: int) -> int:
    return text.count("\n", 0, idx) + 1


# column-binding forms whose bound expression may carry raw libm taint
BIND_SCALA = re.compile(r'\.as\("([A-Za-z_][A-Za-z0-9_]*)"\)')
BIND_SQL = re.compile(r"\bAS\s+([A-Za-z_][A-Za-z0-9_]*)", re.IGNORECASE)
BIND_VAL = re.compile(r"\bval\s+([A-Za-z_][A-Za-z0-9_]*)\s*=")
BIND_WITHCOL = re.compile(r'withColumn\("([A-Za-z_][A-Za-z0-9_]*)"')


CONT_HEAD = re.compile(r"^\s*[.+\-*/&|:]")


def splice_depth(line: str, depth: int) -> int:
    """Brace depth of an open `${` splice after scanning `line` from
    `depth` (`$$` is a literal dollar)."""
    i = 0
    while i < len(line):
        c = line[i]
        if depth == 0:
            if c == "$" and i + 1 < len(line):
                if line[i + 1] == "{":
                    depth = 1
                i += 1
        elif c == "{":
            depth += 1
        elif c == "}":
            depth -= 1
        i += 1
    return depth


def logical_statements(text: str):
    """Join physical lines into logical statements: a statement
    continues while its parens/brackets are unbalanced or the next
    line begins with an operator/dot (the codebase's two continuation
    styles). r17 upgrade (verdict mandate #5): the r16 per-line taint
    missed bindings whose libm call sat on a continuation line.
    stripMargin SQL lines (leading '|') and triple-quote delimiters
    stay PER-LINE: SQL parens are unbalanced across lines, so merging
    would glue whole mirrors into one blob — a FLOOR anywhere would
    then mask every taint in it, and unrelated AS-names would absorb
    taints from distant expressions (both observed in development).
    A `${...}` splice that a SQL line leaves open is glued back onto
    that line with its continuation lines, so the SQL after the closing
    brace (an `AS name`) is read as SQL of the line it sits in, not as
    a Scala statement."""
    raw = [
        l.split("//")[0]
        for l in text.split("\n")
        if not l.lstrip().startswith(("//", "*", "/*"))
    ]
    lines, open_sql, d = [], None, 0
    for l in raw:
        if open_sql is not None:
            open_sql += " " + l.strip()
            d = splice_depth(l, d)
        elif l.lstrip().startswith("|") or '"""' in l:
            open_sql, d = l, splice_depth(l, 0)
        else:
            lines.append(l)
        if d <= 0:
            if open_sql is not None:
                lines.append(open_sql)
            open_sql, d = None, 0
    if open_sql is not None:
        lines.append(open_sql)
    out, buf, depth = [], [], 0
    for i, l in enumerate(lines):
        sql_line = l.lstrip().startswith("|") or '"""' in l
        if sql_line:
            if buf:
                out.append(" ".join(buf))
                buf, depth = [], 0
            out.append(l)
            continue
        buf.append(l)
        depth += l.count("(") + l.count("[") - l.count(")") - l.count("]")
        nxt = lines[i + 1] if i + 1 < len(lines) else ""
        next_cont = (
            CONT_HEAD.match(nxt)
            and not nxt.lstrip().startswith("|")
            and '"""' not in nxt
        )
        # a trailing binary operator/comma also continues the statement
        tail_cont = l.rstrip().endswith(("+", "-", "*", "/", "&&", "||",
                                         "=", ",", "=>"))
        if depth <= 0 and not next_cont and not tail_cont:
            out.append(" ".join(buf))
            buf, depth = [], 0
    if buf:
        out.append(" ".join(buf))
    return out


SQL_TYPES = {
    "DOUBLE", "BIGINT", "HUGEINT", "INT", "INTEGER", "LONG", "VARCHAR",
    "DECIMAL", "FLOAT", "SMALLINT", "DATE", "TIMESTAMP", "BOOLEAN", "REAL",
}


def chain_before(stmt: str, pos: int) -> str:
    """The method-chain expression ending at `pos` (exclusive): walk
    left matching brackets; stop at an unmatched '(' (enclosing call)
    or a top-level ',' (argument boundary) or '=' (val binding)."""
    depth = 0
    j = pos - 1
    while j >= 0:
        c = stmt[j]
        if c in ")]":
            depth += 1
        elif c in "([":
            depth -= 1
            if depth < 0:
                break
        elif depth == 0 and c in ",=;":
            break
        j -= 1
    return stmt[j + 1 : pos]


def tainted_names(text: str) -> set:
    """Names whose BOUND EXPRESSION contains a raw (un-floored) libm
    call — r17 expression-based (verdict mandate #5): statements merge
    continuation lines, and each binding is checked against its OWN
    expression (the chain before `.as(`, the `withColumn` arg, the text
    after `val x =`), not the whole statement/line — so an exact count
    bound in the same fluent chain as a libm projection is no longer
    cross-tainted, and a libm call on a continuation line of its
    binding no longer escapes. SQL `AS x` stays line-scoped (SQL lines
    are per-line statements and the expression precedes AS on them)."""

    def raw_libm(expr: str) -> bool:
        return bool(LIBM.search(expr)) and not QUANT.search(expr)

    out = set()
    for stmt in logical_statements(text):
        if not LIBM.search(stmt):
            continue
        for b in BIND_SCALA.finditer(stmt):
            if raw_libm(chain_before(stmt, b.start())):
                out.add(b.group(1))
        for b in BIND_WITHCOL.finditer(stmt):
            arg = balanced_arg(stmt, stmt.index("(", b.start()))
            if raw_libm(arg):
                out.add(b.group(1))
        for b in BIND_VAL.finditer(stmt):
            if raw_libm(stmt[b.end():]):
                out.add(b.group(1))
        if QUANT.search(stmt):
            continue  # SQL lines keep the r16 whole-line granularity
        for b in BIND_SQL.finditer(stmt):
            n = b.group(1)
            if n.upper() not in SQL_TYPES:
                out.add(n)
    return out


def self_test() -> None:
    """Planted layouts, checked before every audit: a quantSql twin
    whose argument is split over Scala lines binds `tq` on its SQL line
    and is clean; the same layout without the twin taints `tq`."""
    q3 = '"' * 3
    split_twin = (
        f"  val qSql = s{q3}SELECT SUM(tq) AS t FROM (\n"
        '    |  SELECT ${Parity.quantSql("CAST(w AS DOUBLE) * " +\n'
        '        "ln(CAST(x AS DOUBLE))", 9)} AS tq\n'
        f"    |  FROM t){q3}.stripMargin\n"
    )
    split_raw = split_twin.replace("Parity.quantSql(", "(").replace(
        ", 9)}", ")}")
    assert "tq" not in tainted_names(split_twin), split_twin
    assert "tq" in tainted_names(split_raw), split_raw


def main() -> int:
    self_test()
    sites = []
    for f in sorted(SRC.rglob("*.scala")):
        text = f.read_text()
        # taint stays FILE-scoped (r16 behavior): a Scala builder and
        # its oracleSql mirror live in the same file and deliberately
        # cross-taint (e.g. SpatialStats' km is libm-bound only on the
        # SQL side, and the Scala sum sites must still surface)
        taint = tainted_names(text)
        for m in ACC.finditer(text):
            arg = balanced_arg(text, m.end() - 1)
            libm_hits = LIBM.findall(arg)
            hit_taint = sorted(
                t for t in taint
                if re.search(r'[("\s]' + re.escape(t) + r'[)"\s,]', arg)
            )
            if not libm_hits and not hit_taint:
                continue
            if not libm_hits:
                libm_hits = ["via:" + ",".join(hit_taint)]
            # A quantized site still *contains* the libm token; record
            # whether a floor( quantizer wraps it so adjudication is easy.
            quantized = bool(QUANT.search(arg))
            ln = line_of(text, m.start())
            snippet = " ".join(arg.split())[:160]
            sites.append(
                (
                    str(f.relative_to(ROOT)),
                    ln,
                    m.group(1),
                    ",".join(sorted(set(h.lower() for h in libm_hits))),
                    "floor-wrapped" if quantized else "RAW",
                    snippet,
                )
            )
    for s in sites:
        print("\t".join(str(x) for x in s))
    print(f"# {len(sites)} candidate sites", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
