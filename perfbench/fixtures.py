"""Deterministic, seeded CBS-shaped OData fixtures for the ``elt_cbs`` workload.

Writes two datasets shaped after FIXTURES.md, each table as a directory of
``page-*.ndjson`` files (the offline transport of the ``cbs_odata`` reader)
plus a CSDL ``$metadata`` document and the JSON side files:

- ``84799NED`` (v3, wide): ``TypedDataSet`` with 118 columns (ID, 5 string,
  92 int32, 20 double, some nulls and one all-null column of each numeric
  type) in 10k-row pages, two code lists, ``CategoryGroups`` (a parent
  hierarchy), ``DataProperties`` with the dotted ``odata.type`` column, and
  ``ColDescriptions`` holding apostrophes, newlines and over-long texts.
- ``83765NED`` (v4, long): ``Observations`` in 100k-row pages plus
  ``MeasureCodes``, ``MeasureGroups``, ``WijkenEnBuurtenCodes``,
  ``WijkenEnBuurtenGroups`` and ``Dimensions``.

The same seed gives byte-identical files; every value comes from one
``numpy.random.default_rng(seed)`` stream per table. Pure Python and NumPy,
no Spark: run it as a child process so its memory never shows in the
benchmark's peak-RSS figure::

    python3 perfbench/fixtures.py --seed 7 --cache perfbench/_work/fixtures
"""

from __future__ import annotations

import argparse
import json
import os
import shutil

import numpy as np

V3_ID = "84799NED"
V4_ID = "83765NED"
PAGE_V3 = 10_000
PAGE_V4 = 100_000

#: Default scale: 60k x 118 wide rows; 360k long observations in four
#: pages (600 regions x 6 periods x 100 measures, a quarter of 83765NED's
#: 1.5M, so that 22 runs of each workload fit the benchmark's time budget).
V3_ROWS = 60_000
V4_REGIONS = 600
V4_PERIODS = 6
V4_MEASURES = 100

STRING_COLS = (
    "WijkenEnBuurten",
    "Gemeentenaam_1",
    "SoortRegio_2",
    "Codering_3",
    "IndelingswijzigingWijkenEnBuurten_4",
)
N_INT = 92
N_DOUBLE = 20
SOORT_REGIO = ("Land", "Gemeente", "Wijk", "Buurt")

EDM = {"int": "Edm.Int32", "long": "Edm.Int64", "double": "Edm.Double",
       "string": "Edm.String", "bool": "Edm.Boolean"}


def v3_measure_columns() -> list[tuple[str, str]]:
    """(name, kind) of the 112 measure columns, numbered after the strings."""
    out = []
    pos = len(STRING_COLS)
    for i in range(N_INT):
        out.append((f"Aantal{i:02d}_{pos}", "int"))
        pos += 1
    for i in range(N_DOUBLE):
        out.append((f"Percentage{i:02d}_{pos}", "double"))
        pos += 1
    return out


def v3_fact_columns() -> list[tuple[str, str]]:
    return (
        [("ID", "int")]
        + [(c, "string") for c in STRING_COLS]
        + v3_measure_columns()
    )


#: Table schemas other than the two fact tables: name -> [(column, kind)].
DIM_COLUMNS = {
    "WijkenEnBuurten": [("Key", "string"), ("Title", "string"),
                        ("Description", "string"), ("CategoryGroupID", "long")],
    "SoortRegio": [("Key", "string"), ("Title", "string"),
                   ("Description", "string"), ("CategoryGroupID", "long")],
    "CategoryGroups": [("ID", "long"), ("DimensionKey", "string"),
                       ("Title", "string"), ("Description", "string"),
                       ("ParentID", "long")],
    "DataProperties": [("odata.type", "string"), ("ID", "long"),
                       ("Position", "long"), ("ParentID", "long"),
                       ("Type", "string"), ("Key", "string"),
                       ("Title", "string"), ("Description", "string"),
                       ("Datatype", "string"), ("Unit", "string"),
                       ("Decimals", "long"), ("Default", "string"),
                       ("ReleasePolicy", "bool")],
    "Observations": [("Id", "long"), ("Measure", "string"),
                     ("ValueAttribute", "string"), ("Value", "double"),
                     ("WijkenEnBuurten", "string"), ("Perioden", "string")],
    "MeasureCodes": [("Identifier", "string"), ("Index", "long"),
                     ("Title", "string"), ("Description", "string"),
                     ("MeasureGroupId", "string"), ("DataType", "string"),
                     ("Unit", "string"), ("Format", "string"),
                     ("Decimals", "long"), ("PresentationType", "string")],
    "MeasureGroups": [("Id", "string"), ("Index", "long"), ("Title", "string"),
                      ("Description", "string"), ("ParentId", "string")],
    "WijkenEnBuurtenCodes": [("Identifier", "string"), ("Index", "long"),
                             ("Title", "string"), ("Description", "string"),
                             ("DimensionGroupId", "string"),
                             ("DetailRegionCode", "string")],
    "WijkenEnBuurtenGroups": [("Id", "string"), ("Index", "long"),
                              ("Title", "string"), ("Description", "string"),
                              ("ParentId", "string")],
    "Dimensions": [("Identifier", "string"), ("Title", "string"),
                   ("Description", "string"), ("Kind", "string"),
                   ("MapYear", "string")],
}

V3_TABLES = ("TypedDataSet", "WijkenEnBuurten", "SoortRegio",
             "CategoryGroups", "DataProperties")
V4_TABLES = ("Observations", "MeasureCodes", "MeasureGroups",
             "WijkenEnBuurtenCodes", "WijkenEnBuurtenGroups", "Dimensions")


def table_columns(table: str) -> list[tuple[str, str]]:
    return v3_fact_columns() if table == "TypedDataSet" else DIM_COLUMNS[table]


def v4_measures() -> list[str]:
    return [f"M{i:06d}" for i in range(V4_MEASURES)]


def v4_periods() -> list[str]:
    return [f"{2015 + i}JJ00" for i in range(V4_PERIODS)]


def _rng(seed: int, table: str) -> np.random.Generator:
    # one independent stream per (seed, table): adding a table never
    # shifts the values of another
    return np.random.default_rng([seed, sum(map(ord, table)), len(table)])


def _write_pages(out_dir: str, rows, page_rows: int) -> int:
    """Write dict rows as page-NNNNN.ndjson files; returns the page count."""
    os.makedirs(out_dir, exist_ok=True)
    pages = 0
    buf: list[str] = []
    for r in rows:
        buf.append(json.dumps(r, separators=(",", ":"), ensure_ascii=False))
        if len(buf) == page_rows:
            _flush(out_dir, pages, buf)
            pages += 1
            buf = []
    if buf or pages == 0:
        _flush(out_dir, pages, buf)
        pages += 1
    return pages


def _flush(out_dir: str, page: int, lines: list[str]) -> None:
    path = os.path.join(out_dir, f"page-{page:05d}.ndjson")
    # an existing page is overwritten in place (see ensure)
    with open(path, "r+b" if os.path.exists(path) else "wb") as f:
        f.write("".join(line + "\n" for line in lines).encode("utf-8"))
        f.truncate()
        # on disk now, while nothing is timed: left to the kernel, the
        # write-back of 0.2 GB would land in the middle of the first passes
        f.flush()
        os.fsync(f.fileno())


def _nullify(values: list, mask) -> list:
    return [None if m else v for v, m in zip(values, mask)]


def _description(rng: np.random.Generator, i: int) -> str | None:
    """CBS-style column description; covers the comment edge cases."""
    kind = i % 9
    if kind == 0:
        return None
    base = f"Aantal inwoners van 's-Hertogenbosch in regio {i}"
    if kind == 1:
        return base + "\nper 1 januari;\r\nbron: BRP"
    if kind == 2:  # long enough to be truncated after newline stripping
        n = int(rng.integers(1500, 2500))
        return ("Toelichting 'x' " * 200)[:n] + "\nslot"
    if kind == 3:  # exactly at the limit once the newline is gone
        return "a" * 1000 + "\n" + "b" * 24
    if kind == 4:  # one past the limit once the newline is gone
        return "c" * 1000 + "\n" + "d" * 25
    return f"{base}; code {int(rng.integers(0, 10**6))}"


def _v3(seed: int, out: str, n_rows: int) -> dict:
    ds = os.path.join(out, V3_ID)
    n_regions = max(4, n_rows // 10)
    codes = [f"WK{r:06d}" for r in range(n_regions)]

    rng = _rng(seed, "TypedDataSet")
    measures = v3_measure_columns()
    region = rng.integers(0, n_regions, n_rows)
    soort = rng.integers(0, len(SOORT_REGIO), n_rows)
    ints = rng.integers(-1000, 100_000, (n_rows, N_INT))
    dbls = np.round(rng.normal(50.0, 20.0, (n_rows, N_DOUBLE)), 2)
    null_i = rng.random((n_rows, N_INT)) < 0.03
    null_d = rng.random((n_rows, N_DOUBLE)) < 0.03
    null_i[:, N_INT - 1] = True  # all-null int32 measure
    null_d[:, N_DOUBLE - 1] = True  # all-null double measure
    null_s = rng.random(n_rows) < 0.02
    names = [c for c, _ in measures]

    def fact_rows():
        for i in range(n_rows):
            row = {
                "ID": i,
                "WijkenEnBuurten": codes[region[i]],
                "Gemeentenaam_1": None if null_s[i] else f"Gemeente {region[i] % 350}",
                "SoortRegio_2": SOORT_REGIO[soort[i]],
                "Codering_3": codes[region[i]],
                "IndelingswijzigingWijkenEnBuurten_4": str(int(region[i] % 3)),
            }
            vals = _nullify(ints[i].tolist(), null_i[i]) + _nullify(
                dbls[i].tolist(), null_d[i]
            )
            row.update(zip(names, vals))
            yield row

    pages = {"TypedDataSet": _write_pages(
        os.path.join(ds, "TypedDataSet"), fact_rows(), PAGE_V3)}

    # CategoryGroups: four roots, three children per group (ParentID null
    # at the roots). The shape is the same for every seed, so the closure's
    # depth -- and with it the hierarchy query's job and py4j counts --
    # does not depend on the seed; the texts do.
    rng = _rng(seed, "CategoryGroups")
    n_groups = 40
    groups = [
        {"ID": g, "DimensionKey": "WijkenEnBuurten",
         "Title": f"Groep {g}-{int(rng.integers(0, 10**6))}",
         "Description": None if g % 5 else f"Groep {g}'s toelichting",
         "ParentID": None if g < 4 else (g - 4) // 3}
        for g in range(n_groups)
    ]
    pages["CategoryGroups"] = _write_pages(
        os.path.join(ds, "CategoryGroups"), groups, PAGE_V3)

    rng = _rng(seed, "WijkenEnBuurten")
    grp = rng.integers(0, n_groups, n_regions)
    dim = [
        {"Key": c, "Title": f"Wijk {r}", "Description": None,
         "CategoryGroupID": None if r % 7 == 0 else int(grp[r])}
        for r, c in enumerate(codes)
    ]
    pages["WijkenEnBuurten"] = _write_pages(
        os.path.join(ds, "WijkenEnBuurten"), dim, PAGE_V3)
    soort_dim = [
        {"Key": s, "Title": f"{s} (regio)", "Description": f"Soort '{s}'",
         "CategoryGroupID": None}
        for s in SOORT_REGIO
    ]
    pages["SoortRegio"] = _write_pages(
        os.path.join(ds, "SoortRegio"), soort_dim, PAGE_V3)

    rng = _rng(seed, "DataProperties")
    col_desc = {}
    props = []
    for pos, (col, kind) in enumerate(v3_fact_columns()):
        desc = _description(rng, pos)
        col_desc[col] = desc
        props.append({
            "odata.type": "Cbs.OData.Topic" if pos > 5 else "Cbs.OData.Dimension",
            "ID": pos, "Position": pos, "ParentID": None,
            "Type": "Topic" if pos > 5 else "Dimension",
            "Key": col, "Title": col.split("_")[0], "Description": desc,
            "Datatype": {"int": "Long", "double": "Double"}.get(kind, "String"),
            "Unit": "aantal", "Decimals": 2 if kind == "double" else 0,
            "Default": "Impossible", "ReleasePolicy": pos % 2 == 0,
        })
    pages["DataProperties"] = _write_pages(
        os.path.join(ds, "DataProperties"), props, PAGE_V3)

    metadata = {
        "Identifier": V3_ID,
        "Title": "Kerncijfers wijken en buurten (synthetisch)",
        "ShortDescription": "Synthetic data shaped like CBS's 'kerncijfers'.",
        "Modified": f"2024-{1 + seed % 12:02d}-{1 + seed % 28:02d}T02:00:00",
        "MetaDataModified": "2024-01-01T02:00:00",
        "Frequency": "Perjaar", "Period": "2019",
        "RecordCount": n_rows, "ColumnCount": len(v3_fact_columns()),
        "ApiUrl": f"https://opendata.cbs.nl/ODataApi/odata/{V3_ID}",
    }
    _side_files(ds, V3_TABLES, metadata, col_desc)
    return pages


def _v4(seed: int, out: str, n_regions: int) -> dict:
    ds = os.path.join(out, V4_ID)
    measures = v4_measures()
    periods = v4_periods()
    codes = [f"BU{r:07d}" for r in range(n_regions)]
    n = n_regions * len(periods) * len(measures)

    rng = _rng(seed, "Observations")
    vals = np.round(rng.normal(100.0, 40.0, n), 1).tolist()
    null_v = rng.random(n) < 0.02
    # ~1 % of cells are not published at all: the pivot must leave them null
    absent = rng.random(n) < 0.01
    attr = rng.random(n) < 0.05

    def obs_rows():
        i = 0
        for code in codes:
            for per in periods:
                for m in measures:
                    if not absent[i]:
                        yield {
                            "Id": i, "Measure": m,
                            "ValueAttribute": "Impossible" if attr[i] else "None",
                            "Value": None if null_v[i] else vals[i],
                            "WijkenEnBuurten": code, "Perioden": per,
                        }
                    i += 1

    pages = {"Observations": _write_pages(
        os.path.join(ds, "Observations"), obs_rows(), PAGE_V4)}

    n_mgroups = 12
    mgroups = [
        {"Id": f"G{g:03d}", "Index": g, "Title": f"Maatgroep {g}",
         "Description": None,
         "ParentId": None if g < 3 else f"G{(g - 3) // 3:03d}"}
        for g in range(n_mgroups)
    ]
    pages["MeasureGroups"] = _write_pages(
        os.path.join(ds, "MeasureGroups"), mgroups, PAGE_V4)
    mcodes = [
        {"Identifier": m, "Index": i, "Title": f"Maat {i}",
         "Description": f"Maat {i}'s omschrijving",
         "MeasureGroupId": f"G{i % n_mgroups:03d}", "DataType": "Double",
         "Unit": "aantal", "Format": None, "Decimals": 1,
         "PresentationType": "Absolute"}
        for i, m in enumerate(measures)
    ]
    pages["MeasureCodes"] = _write_pages(
        os.path.join(ds, "MeasureCodes"), mcodes, PAGE_V4)

    rng = _rng(seed, "WijkenEnBuurtenGroups")
    n_rgroups = 60
    rparents = [None] * 3 + [int(rng.integers(0, g)) for g in range(3, n_rgroups)]
    rgroups = [
        {"Id": f"R{g:03d}", "Index": g, "Title": f"Regiogroep {g}",
         "Description": None,
         "ParentId": None if rparents[g] is None else f"R{rparents[g]:03d}"}
        for g in range(n_rgroups)
    ]
    pages["WijkenEnBuurtenGroups"] = _write_pages(
        os.path.join(ds, "WijkenEnBuurtenGroups"), rgroups, PAGE_V4)
    grp = rng.integers(0, n_rgroups, n_regions)
    rcodes = [
        {"Identifier": c, "Index": r, "Title": f"Buurt {r}", "Description": None,
         "DimensionGroupId": f"R{int(grp[r]):03d}", "DetailRegionCode": c[2:]}
        for r, c in enumerate(codes)
    ]
    pages["WijkenEnBuurtenCodes"] = _write_pages(
        os.path.join(ds, "WijkenEnBuurtenCodes"), rcodes, PAGE_V4)
    pages["Dimensions"] = _write_pages(
        os.path.join(ds, "Dimensions"),
        [{"Identifier": "WijkenEnBuurten", "Title": "Wijken en buurten",
          "Description": "Regio's", "Kind": "GeoDimension", "MapYear": "2019"}],
        PAGE_V4,
    )
    metadata = {
        "Identifier": V4_ID,
        "Title": "Kerncijfers wijken en buurten, lang formaat (synthetisch)",
        "Description": "Synthetic long-format observations.",
        "Modified": f"2023-{1 + seed % 12:02d}-{1 + seed % 28:02d}T00:00:00+01:00",
        "ObservationCount": sum(1 for a in absent if not a),
        "Status": "Regular", "Version": "202301", "DatasetType": "Numeric",
    }
    _side_files(ds, V4_TABLES, metadata, None)
    return pages


def _side_files(ds: str, tables, metadata: dict, col_desc: dict | None) -> None:
    with open(os.path.join(ds, "Metadata.json"), "w", encoding="utf-8") as f:
        json.dump(metadata, f, ensure_ascii=False, indent=1, sort_keys=True)
    if col_desc is not None:
        with open(os.path.join(ds, "ColDescriptions.json"), "w",
                  encoding="utf-8") as f:
            json.dump(col_desc, f, ensure_ascii=False, indent=1)
    with open(os.path.join(ds, "metadata.xml"), "w", encoding="utf-8") as f:
        f.write(csdl(tables))


def csdl(tables) -> str:
    """OData CSDL ``$metadata`` document declaring each table's entity."""
    ents = []
    for t in tables:
        props = "".join(
            f'<Property Name="{c}" Type="{EDM[k]}" '
            f'Nullable="{"false" if c in ("ID", "Id") else "true"}"/>'
            for c, k in table_columns(t)
        )
        ents.append(f'<EntityType Name="{t}">{props}</EntityType>')
    return (
        '<?xml version="1.0" encoding="utf-8"?>'
        '<edmx:Edmx xmlns:edmx="http://docs.oasis-open.org/odata/ns/edmx" '
        'Version="4.0"><edmx:DataServices>'
        '<Schema xmlns="http://docs.oasis-open.org/odata/ns/edm" '
        'Namespace="Cbs.OData">' + "".join(ents) +
        "</Schema></edmx:DataServices></edmx:Edmx>"
    )


def generate(seed: int, out: str, *, v3_rows: int = V3_ROWS,
             v4_regions: int = V4_REGIONS) -> dict:
    """Write both datasets under ``out``; returns {dataset: {table: pages}}."""
    return {V3_ID: _v3(seed, out, v3_rows), V4_ID: _v4(seed, out, v4_regions)}


def ensure(seed: int, cache_root: str) -> str:
    """The fixture directory under ``cache_root``, holding ``seed``'s
    fixtures; generated unless it holds them already.

    The cache keeps one fixture set (about 0.2 GB), and a new seed rewrites
    its pages in place: every seed writes the same files at nearly the same
    sizes, so the disk blocks are reused instead of freed and allocated
    again (on a disk mounted with online discard, freeing 0.2 GB of written
    pages takes several seconds)."""
    out = os.path.join(cache_root, "current")
    stamp = os.path.join(out, "STAMP")
    want = {"seed": seed, "shape": [V3_ROWS, V4_REGIONS, V4_PERIODS,
                                    V4_MEASURES, PAGE_V3, PAGE_V4]}
    have = None
    if os.path.exists(stamp):
        with open(stamp, encoding="utf-8") as f:
            have = json.load(f)
        if have == want:
            return out
        os.remove(stamp)  # a half-rewritten set never passes for a whole one
    if have is None or have["shape"] != want["shape"]:
        # another shape writes another set of files: start from nothing
        shutil.rmtree(out, ignore_errors=True)
    generate(seed, out)
    with open(stamp, "w", encoding="utf-8") as f:
        json.dump(want, f)
    _fsync_dir(out)
    return out


def _fsync_dir(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--cache", required=True,
                    help="cache root; fixtures land in <cache>/current")
    args = ap.parse_args()
    print(ensure(args.seed, args.cache))


if __name__ == "__main__":
    main()
