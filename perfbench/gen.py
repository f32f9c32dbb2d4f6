"""Seeded inputs for the graft benchmark.

Everything a run feeds graft comes from here, as a pure function of the
workload seed: `.xlsx` traffic workbooks (written by a minimal OOXML
writer, no spreadsheet library), day-first CSV exports for the stream,
and the seeded query orders. The same seed always yields the same bytes.

usage: gen.py <workload> <seed> <outdir>   (writes <outdir>/manifest.json)
"""
import csv
import io
import json
import os
import random
import sys
import zipfile
from datetime import datetime, timedelta

# The light headline queries plus the ETL transform (query_mix) and the
# multi-second headline plans (heavy_plans).
QUERY_MIX = [
    "q_agg_pricing_summary", "q_join_shipping_priority", "q_join_region_revenue",
    "q_window_moving_avg", "q_asof_join_events_orders", "q_json_extract_props",
    "q_dedup_exact", "q_dedup_minhash_lsh", "q_ann_bruteforce_topk",
    "q_text_quality", "q_etl_transform"]
HEAVY_PLANS = [
    "q_pagerank_copurchase", "q_triangle_count", "q_shortest_paths",
    "q_markov_attribution", "q_dedup_prefix_filter", "q_semantic_dedup",
    "q_dedup_winnow", "q_dedup_substring", "q_hybrid_search",
    "q_bitext_margin_index", "q_semantic_decontaminate"]

# The SQL twin of q_dedup_minhash_lsh runs ~8x its API plan (10.7 s against
# 1.3 s at sf0.01 on 4 cores, 70 s at sf0.1); one op of it would outweigh the
# rest of a lap, so the mix issues that query through the API only.
SQL_SKIP = {"q_dedup_minhash_lsh"}

# Sizes follow the reference input: one day of five-minute samples, 287
# rows (DAY - 1). One etl_batch lap is a reference-sized workbook plus
# whole days (1, 2 and 4); the seed permutes them and draws the values, so
# every seed does the same amount of work.
DAY = 288
ETL_ROWS = [DAY - 1, DAY, DAY, 2 * DAY, 2 * DAY, 4 * DAY]
# One stream_ingest lap: exports of a quarter, half or whole day, likewise
# permuted.
STREAM_ROWS = [DAY // 4, DAY // 2, DAY, DAY // 2, DAY // 4, DAY, DAY // 2, DAY]
# Stream files are generated for this many laps; a run lands as many as
# its timed regions consume.
STREAM_LAPS = 4
ZIP_TIME = (1980, 1, 1, 0, 0, 0)
WORKLOADS = ("etl_batch", "query_mix", "heavy_plans", "stream_ingest")


def traffic_series(rng, n):
    """n five-minute (time, traffic) samples from a seeded start day."""
    start = datetime(2021, 1, 1) + timedelta(days=rng.randrange(0, 1000))
    return [(start + timedelta(minutes=5 * i), round(rng.uniform(1.0, 10.0), 4))
            for i in range(n)]


def excel_serial(t):
    """1900-system date serial of a naive datetime (Excel's leap-year bug
    included, as every reader expects)."""
    delta = t - datetime(1899, 12, 30)
    return delta.days + delta.seconds / 86400.0


def _col(c):
    s = ""
    c += 1
    while c:
        c, r = divmod(c - 1, 26)
        s = chr(ord("A") + r) + s
    return s


def xlsx_bytes(rows):
    """A minimal one-sheet workbook: header `time | traffic`, time cells as
    date-styled serials (numFmtId 22, `m/d/yy h:mm`), traffic as numbers."""
    cells = ['<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>']
    for i, (t, v) in enumerate(rows, start=2):
        cells.append(f'<row r="{i}"><c r="{_col(0)}{i}" s="1"><v>{excel_serial(t)!r}</v></c>'
                     f'<c r="{_col(1)}{i}"><v>{v!r}</v></c></row>')
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pkg = "http://schemas.openxmlformats.org/package/2006/relationships"
    head = '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    parts = {
        "[Content_Types].xml": head +
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            '<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>'
            '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
            '</Types>',
        "_rels/.rels": head + f'<Relationships xmlns="{pkg}">'
            f'<Relationship Id="rId1" Type="{rel}/officeDocument" Target="xl/workbook.xml"/></Relationships>',
        "xl/workbook.xml": head + f'<workbook xmlns="{ns}" xmlns:r="{rel}">'
            '<sheets><sheet name="traffic" sheetId="1" r:id="rId1"/></sheets></workbook>',
        "xl/_rels/workbook.xml.rels": head + f'<Relationships xmlns="{pkg}">'
            f'<Relationship Id="rId1" Type="{rel}/worksheet" Target="worksheets/sheet1.xml"/>'
            f'<Relationship Id="rId2" Type="{rel}/styles" Target="styles.xml"/>'
            f'<Relationship Id="rId3" Type="{rel}/sharedStrings" Target="sharedStrings.xml"/>'
            '</Relationships>',
        "xl/styles.xml": head + f'<styleSheet xmlns="{ns}"><cellXfs count="2">'
            '<xf numFmtId="0" applyNumberFormat="0"/><xf numFmtId="22" applyNumberFormat="1"/>'
            '</cellXfs></styleSheet>',
        "xl/sharedStrings.xml": head + f'<sst xmlns="{ns}" count="2" uniqueCount="2">'
            '<si><t>time</t></si><si><t>traffic</t></si></sst>',
        "xl/worksheets/sheet1.xml": head + f'<worksheet xmlns="{ns}"><sheetData>'
            + "".join(cells) + "</sheetData></worksheet>",
    }
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, text in parts.items():
            info = zipfile.ZipInfo(name, date_time=ZIP_TIME)
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, text.encode("utf-8"))
    return buf.getvalue()


def csv_bytes(rows):
    """The reference's export shape: header, day-first `dd/MM/yyyy HH:mm`."""
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(["time", "traffic"])
    for t, v in rows:
        w.writerow([t.strftime("%d/%m/%Y %H:%M"), repr(v)])
    return buf.getvalue().encode("utf-8")


def _write(path, data):
    with open(path, "wb") as f:
        f.write(data)


def _files(rng, outdir, sizes, ext, encode):
    out = []
    for i, n in enumerate(sizes):
        rows = traffic_series(rng, n)
        name = f"traffic_{i:03d}.{ext}"
        _write(os.path.join(outdir, name), encode(rows))
        out.append({"file": name, "rows": n,
                    "traffic_sum": sum(v for _, v in rows)})
    return out


def generate(workload, seed, outdir):
    """Write the workload's inputs under outdir and return the manifest."""
    rng = random.Random(f"{workload}:{seed}")
    os.makedirs(outdir, exist_ok=True)
    manifest = {"workload": workload, "seed": seed}
    if workload == "etl_batch":
        sizes = rng.sample(ETL_ROWS, len(ETL_ROWS))
        manifest["files"] = _files(rng, outdir, sizes, "xlsx", xlsx_bytes)
    elif workload == "stream_ingest":
        sizes = [n for _ in range(STREAM_LAPS)
                 for n in rng.sample(STREAM_ROWS, len(STREAM_ROWS))]
        manifest["files"] = _files(rng, outdir, sizes, "csv", csv_bytes)
        manifest["lap"] = len(STREAM_ROWS)
    elif workload == "query_mix":
        ops = [[q, path] for q in QUERY_MIX for path in ("api", "sql")
               if not (path == "sql" and q in SQL_SKIP)]
        manifest["ops"] = rng.sample(ops, len(ops))
    elif workload == "heavy_plans":
        manifest["ops"] = [[q, "api"] for q in rng.sample(HEAVY_PLANS, len(HEAVY_PLANS))]
    else:
        raise ValueError(f"unknown workload {workload}")
    with open(os.path.join(outdir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
