#!/usr/bin/env python3
"""Self-tests of the benchmark itself (no Spark needed, about a second):

    python3 perfbench/selftest.py

- the fixture generator is deterministic: the same seed gives byte-identical
  pages and a different seed gives different pages;
- one mutated ndjson page turns the landed-table checksum red, and one
  mutated query row turns both output comparisons red;
- the column-comment reference rule handles apostrophes, newlines and
  over-long descriptions;
- every metric name is well formed and BENCHMARK.json lists exactly the
  metrics the benchmark prints.

Fixtures are written only under ``perfbench/_work/selftest``.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "_work", "selftest")
sys.path[:0] = [HERE, ROOT]

import fixtures as fx  # noqa: E402
from checks import canonical_rows, duck, exact_diff, oracle_diff  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise AssertionError(what)
    print(f"ok  {what}")


def digest(root: str) -> dict[str, str]:
    out = {}
    for r, _, files in os.walk(root):
        for f in sorted(files):
            p = os.path.join(r, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def small(seed: int, name: str) -> str:
    out = os.path.join(OUT, name)
    shutil.rmtree(out, ignore_errors=True)
    fx.generate(seed, out, v3_rows=300, v4_regions=4)
    return out


def test_generator() -> None:
    a, b, c = small(5, "a"), small(5, "b"), small(6, "c")
    da, db, dc = digest(a), digest(b), digest(c)
    expect(da == db, "same seed gives byte-identical fixture files")
    pages = [k for k in da if k.endswith(".ndjson")]
    expect(len(pages) >= len(fx.V3_TABLES) + len(fx.V4_TABLES),
           "every table has at least one page")
    expect(any(da[k] != dc.get(k) for k in pages),
           "a different seed gives different pages")
    fx.generate(5, c, v3_rows=300, v4_regions=4)  # over seed 6's, in place
    expect(digest(c) == da,
           "rewriting another seed's pages in place gives the same files")
    fact = os.path.join(a, fx.V3_ID, "TypedDataSet", "page-00000.ndjson")
    with open(fact, encoding="utf-8") as f:
        row = json.loads(f.readline())
    kinds = [k for _, k in fx.v3_fact_columns()]
    expect(len(row) == 118 and kinds.count("int") == 93
           and kinds.count("double") == 20 and kinds.count("string") == 5,
           "TypedDataSet has 118 columns: ID, 5 string, 92 int32, 20 double")


def test_page_mutation() -> None:
    from elt import _DUCK, _count_hash

    src = os.path.join(OUT, "a", fx.V3_ID, "TypedDataSet")
    bad = os.path.join(OUT, "mutated")
    shutil.rmtree(bad, ignore_errors=True)
    shutil.copytree(src, bad)
    page = os.path.join(bad, "page-00000.ndjson")
    with open(page, encoding="utf-8") as f:
        lines = f.readlines()
    row = json.loads(lines[7])
    row["Aantal00_5"] = (row["Aantal00_5"] or 0) + 1
    lines[7] = json.dumps(row, separators=(",", ":")) + "\n"
    with open(page, "w", encoding="utf-8") as f:
        f.writelines(lines)

    con = duck()
    cols = fx.v3_fact_columns()
    spec = ", ".join(f"'{c}': '{_DUCK[k]}'" for c, k in cols)
    names = [c for c, _ in cols]

    def view(d: str) -> str:
        return (f"read_json('{d}/page-*.ndjson', format='newline_delimited', "
                f"columns={{{spec}}})")

    parquet = os.path.join(OUT, "landed.parquet")
    con.execute(f"COPY (SELECT * FROM {view(src)}) TO '{parquet}' (FORMAT parquet)")
    want = con.execute(_count_hash(view(src), names)).fetchone()
    same = con.execute(_count_hash(f"read_parquet('{parquet}')", names)).fetchone()
    got = con.execute(_count_hash(view(bad), names)).fetchone()
    expect(want == same, "an exact Parquet copy of the pages passes the checksum")
    expect(want[0] == got[0] and want[1] != got[1],
           "one mutated value in one page turns the checksum red")
    con.close()


def test_row_mutation() -> None:
    import pyarrow as pa

    con = duck()
    sql = ("SELECT range AS k, range * 1.5 AS v, 'x' || range AS s "
           "FROM range(50)")
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    want = canonical_rows(cols, rows)
    shuffled = list(reversed(rows))
    expect(oracle_diff(canonical_rows(cols[::-1], [r[::-1] for r in shuffled]),
                       want) == [],
           "oracle comparison ignores row and column order")
    mutated = list(rows)
    mutated[17] = (17, 17 * 1.5 + 1e-3, "x17")
    expect(oracle_diff(canonical_rows(cols, mutated), want) != [],
           "one mutated query row turns the oracle comparison red")
    near = list(rows)
    near[17] = (17, 17 * 1.5 + 1e-9, "x17")
    expect(oracle_diff(canonical_rows(cols, near), want) == [],
           "the oracle comparison rounds floats to 6 decimals")

    table = pa.table({"k": [r[0] for r in rows], "v": [r[1] for r in rows],
                      "s": [r[2] for r in rows]})
    expect(exact_diff(con, table, sql) == [], "exact comparison passes a copy")
    bad = table.set_column(1, "v", pa.array(
        [r[1] + (1 if i == 3 else 0) for i, r in enumerate(rows)]))
    expect(exact_diff(con, bad, sql) != [],
           "one mutated row turns the exact comparison red")
    expect(exact_diff(con, table.slice(1), sql) != [],
           "one missing row turns the exact comparison red")
    con.close()


def test_comment_rule() -> None:
    from elt import reference_comment

    expect(reference_comment(None) is None, "no description, no comment")
    expect(reference_comment("it's\r\na\nb") == "it'sab",
           "newlines are stripped and apostrophes kept")
    expect(reference_comment("a" * 1000 + "\n" + "b" * 24) == "a" * 1000 + "b" * 24,
           "1024 characters after stripping stay whole")
    long = reference_comment("x" * 1500)
    expect(len(long) == 1023 and long.endswith("...") and long[:1020] == "x" * 1020,
           "longer descriptions are cut to 1020 characters plus '...'")


def test_metric_names() -> None:
    from run import END_TO_END
    from tracing import LAYER_METRICS

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    names = [n for n, _ in END_TO_END] + [n for n, _ in LAYER_METRICS]
    expect(all(NAME.fullmatch(n) and len(n) <= 64 for n in names),
           "every metric name matches [A-Za-z0-9_.-]+")
    expect(len(set(names)) == len(names), "every metric name is used once")
    expect([(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(END_TO_END),
           "BENCHMARK.json end_to_end matches the printed metrics")
    expect([(m["name"], m["unit"]) for m in spec["per_layer"]] == list(LAYER_METRICS),
           "BENCHMARK.json per_layer matches the traced metrics")
    from run import WORKLOADS

    expect([w["name"] for w in spec["workloads"]] == list(WORKLOADS),
           "BENCHMARK.json workloads match the runnable ones")


def main() -> int:
    os.makedirs(OUT, exist_ok=True)
    try:
        for test in (test_generator, test_page_mutation, test_row_mutation,
                     test_comment_rule, test_metric_names):
            test()
    finally:
        shutil.rmtree(OUT, ignore_errors=True)
    print("selftest: all checks passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
