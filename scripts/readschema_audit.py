#!/usr/bin/env python
"""Registry-wide ReadSchema (column-pruning) audit (r17 optimization round).

For EVERY registered gate, build the query frame at $PROTEUS_GATE_SF_DIR
(default sf0.01) and extract, for each parquet scan in the formatted
physical plan, the table and the ReadSchema column list. Guide §6: the
scan's ReadSchema should list only the columns the query uses — an
opaque operation (UDF, mapInPandas) over an unprojected frame silently
reads every column, which at 100 TB means scanning the wide payload
column for a query that only needs ids.

Flag rule: a scan is WIDE-FLAGGED when its ReadSchema includes one of
the corpus payload columns (documents.text, embeddings.embedding) —
each flag is then adjudicated: tokenizing/fingerprint gates
legitimately read text, scoring gates legitimately read embeddings; a
flag is a DEFECT only when the gate's output provably does not depend
on the wide column. The TPC-H *_comment entries are kept for schema
drift only: the driver-generated tables carry NO comment columns
(lineitem ends at l_shipdate), so those entries are inert by
construction today and would only fire if the generator ever grew
them — they are documentation, not an exercised audit result.

r18 fixes (ADVICE items): (1) the ReadSchema regex previously stopped
at the FIRST '>' — any column list containing a nested type
(embedding:array<float>) was silently truncated after that column;
now captured to end of line. (2) column splitting is bracket-depth
aware, so array<...>/decimal(12,2) type parameters never split a
column entry. (3) the embeddings wide column is 'embedding' (the
parquet name) — 'vec' was only ever a post-load alias, so the old flag
could never fire and the 32 embedding scans went unaudited.

A ReadSchema line the parser cannot read in full (no closing '>' at end of
line, or a column list Spark truncated to '... N more fields') is an audit
error: it is listed under the gate's "unparsed" key and counted in the
summary, never dropped.

Usage: python scripts/readschema_audit.py [out.json] [name1,name2,...]
"""

from __future__ import annotations

import json
import os
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("PROTEUS_GATE_SF_DIR", "/root/testdata/sf0.01")

_LOC_RE = re.compile(r"Location: \S+ \[[^\]]*?([a-z_0-9]+)\.parquet\]")
# greedy to the LAST '>' on the line: nested types (array<float>) must not
# truncate the captured column list (r18 ADVICE fix)
_RS_RE = re.compile(r"ReadSchema: struct<(.*)>\s*$", re.MULTILINE)
_RS_LINE_RE = re.compile(r"ReadSchema:.*$", re.MULTILINE)
_TRUNCATED_RE = re.compile(r"\.\.\. \d+ more fields")

WIDE = {
    "documents": {"text"},
    "lineitem": {"l_comment"},
    "orders": {"o_comment"},
    "part": {"p_comment"},
    "customer": {"c_comment"},
    "supplier": {"s_comment"},
    "embeddings": {"embedding"},
}


def _split_cols(body: str) -> list[str]:
    """Split a ReadSchema struct body on TOP-LEVEL commas only —
    bracket-depth aware so array<struct<a:int,b:int>> or decimal(12,2)
    type parameters never produce bogus column tokens (r18 ADVICE fix)."""
    cols, depth, cur = [], 0, []
    for ch in body:
        if ch == "," and depth == 0:
            cols.append("".join(cur))
            cur = []
            continue
        if ch in "<([":
            depth += 1
        elif ch in ">)]":
            depth -= 1
        cur.append(ch)
    cols.append("".join(cur))
    return [c.strip() for c in cols if c.strip()]


def parse_scans(plan: str) -> tuple[list[dict], list[str]]:
    """(scans, unparsed ReadSchema lines) of a formatted physical plan.

    The formatted plan prints each scan's Location/ReadSchema pair in the
    numbered detail section; split on the numbered block headers (NOT on
    every "(" — PushedFilters like IsNotNull(x) carry parens between
    Location and ReadSchema, which a naive split separates, silently
    dropping exactly the scans that HAVE pushdown)."""
    scans: list[dict] = []
    unparsed: list[str] = []
    for b in re.split(r"^\(\d+\) ", plan, flags=re.MULTILINE):
        loc = _LOC_RE.search(b)
        rs = _RS_RE.search(b)
        if rs is None or _TRUNCATED_RE.search(rs.group(1)):
            unparsed += [m.group(0).strip() for m in _RS_LINE_RE.finditer(b)]
            continue
        if loc:
            table = loc.group(1).rsplit("/", 1)[-1]
            cols = sorted(c.split(":")[0].strip() for c in _split_cols(rs.group(1)))
            wide = sorted(set(cols) & WIDE.get(table, set()))
            scans.append({"table": table, "cols": cols, "wide": wide})
    return scans, unparsed


def main() -> None:
    out_path = (
        Path(sys.argv[1])
        if len(sys.argv) > 1
        else REPO / "plans" / "r17" / "readschema_audit.json"
    )
    from proteus_engine_spark.queries.registry import REGISTRY
    from proteus_engine_spark.session import get_session

    names = list(REGISTRY)
    if len(sys.argv) > 2:
        names = [n.strip() for n in sys.argv[2].split(",") if n.strip()]

    spark = get_session(app_name="proteus-readschema-audit")
    report: dict[str, dict] = {}
    for name in names:
        try:
            df = REGISTRY[name].fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # keep going; a failure is itself a finding
            report[name] = {"error": repr(e)}
            print(f"ERROR {name}: {e!r}", file=sys.stderr)
            continue
        scans, unparsed = parse_scans(plan)
        flagged = [s for s in scans if s["wide"]]
        report[name] = {"scans": scans, "wide_flags": len(flagged)}
        if unparsed:
            report[name]["unparsed"] = unparsed
            print(f"AUDIT ERROR {name}: unparsed {unparsed}", file=sys.stderr)
        if flagged:
            tags = ", ".join(f"{s['table']}[{'+'.join(s['wide'])}]" for s in flagged)
            print(f"{name}: WIDE {tags}")
    spark.stop()

    out_path.write_text(json.dumps(report, indent=1, sort_keys=True))
    n_flagged = sum(1 for e in report.values() if e.get("wide_flags"))
    n_unparsed = sum(len(e.get("unparsed", ())) for e in report.values())
    print(
        f"\n{len(report)} gates audited, {n_flagged} with wide-column scans, "
        f"{n_unparsed} unparsed ReadSchema lines"
    )


if __name__ == "__main__":
    main()
