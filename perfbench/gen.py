"""Seeded input generator for the repository benchmark.

Every input a workload reads beyond the fixed sf tables is derived here
from the seed, so the same seed gives the same inputs. Output sets are
cached under the build directory by seed plus a stamp of the source
tables and of this file; each set records the rows and bytes of every
input it holds in ``manifest.json``.
"""
import hashlib
import json
import math
import os
import shutil
import zipfile
from xml.sax.saxutils import escape

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Staged-file slice: events whose mixed id falls in one residue class.
SLICE_MOD = 40
# Change batch of the merges: a seeded arithmetic subset of the events at
# or after the seeded split day (the JVM side applies the same predicate).
MERGE_MOD = 5
# Micro-batches of the stream workload: two compaction cycles at the
# benchmark's compactEvery (4; Streams.scala). The warm-up's two batches
# cover the first probe; stream start-up dominates their cost.
STREAM_BATCHES = 9
WARM_STREAM_BATCHES = 2
# Modification time (epoch s) of the first micro-batch file.
STREAM_MTIME0 = 1700000000


def data_stamp(sf_dir):
    """Names and sizes of the source tables."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(sf_dir)):
        size = os.path.getsize(os.path.join(sf_dir, name))
        h.update(f"{name}:{size}\n".encode())
    return h.hexdigest()[:16]


def source_stamp(sf_dir):
    """The data stamp plus this generator's own source."""
    h = hashlib.sha256(data_stamp(sf_dir).encode())
    with open(__file__, "rb") as f:
        h.update(f.read())
    return h.hexdigest()[:16]


# Merge target = events before this µs-aligned instant (mid-range of the
# events' January 2024 timestamps); the seed picks the change batch.
SPLIT = "2024-01-15 00:00:00"


def slice_pred(seed):
    return f"(event_id * 2654435761 + {seed}) % {SLICE_MOD} = 0"


def format_size(n):
    """``graft.io.Discovery.formatSize`` (Java's half-up rounding)."""
    if n < 1024:
        return f"{n} B"
    if n < 1024 * 1024:
        return f"{math.floor(n / 1024.0 * 100 + 0.5) / 100.0} KB"
    return f"{math.floor(n / (1024.0 * 1024) * 100 + 0.5) / 100.0} MB"


def _write_xlsx(path, header, rows):
    """Minimal OOXML workbook with shared strings, the layout
    ``graft.io.Xlsx.write`` produces."""
    shared = {}

    def sidx(s):
        return shared.setdefault(s, len(shared))

    def col(i):
        s = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            s = chr(65 + r) + s
        return s

    out = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
           '<worksheet xmlns="http://schemas.openxmlformats.org/'
           'spreadsheetml/2006/main"><sheetData>']
    for ri, cells in enumerate([header] + rows):
        out.append(f'<row r="{ri + 1}">')
        for ci, v in enumerate(cells):
            ref = f"{col(ci)}{ri + 1}"
            if v is None:
                continue
            if isinstance(v, str):
                out.append(f'<c r="{ref}" t="s"><v>{sidx(v)}</v></c>')
            else:
                out.append(f'<c r="{ref}"><v>{v!r}</v></c>')
        out.append("</row>")
    out.append("</sheetData></worksheet>")
    sst = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
           '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/'
           f'2006/main" count="{len(shared)}" uniqueCount="{len(shared)}">'
           + "".join(f"<si><t>{escape(s)}</t></si>" for s in shared)
           + "</sst>")
    ns = "http://schemas.openxmlformats.org"
    ct = f"{ns}/officeDocument/2006/relationships"
    parts = {
        "[Content_Types].xml":
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<Types xmlns="{ns}/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/'
            'vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/'
            'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType='
            '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
            'worksheet+xml"/>'
            '<Override PartName="/xl/sharedStrings.xml" ContentType='
            '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
            'sharedStrings+xml"/></Types>',
        "_rels/.rels":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<Relationships xmlns="{ns}/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{ct}/officeDocument" '
            'Target="xl/workbook.xml"/></Relationships>',
        "xl/workbook.xml":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<workbook xmlns="{ns}/spreadsheetml/2006/main" '
            f'xmlns:r="{ct}"><sheets><sheet name="Sheet1" sheetId="1" '
            'r:id="rId1"/></sheets></workbook>',
        "xl/_rels/workbook.xml.rels":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<Relationships xmlns="{ns}/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{ct}/worksheet" '
            'Target="worksheets/sheet1.xml"/>'
            f'<Relationship Id="rId2" Type="{ct}/sharedStrings" '
            'Target="sharedStrings.xml"/></Relationships>',
        "xl/sharedStrings.xml": sst,
        "xl/worksheets/sheet1.xml": "".join(out),
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, content in parts.items():
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            z.writestr(info, content)


def _stage_procedures(con, sf_dir, out, seed):
    ev = f"read_parquet('{sf_dir}/events.parquet')"
    stage = os.path.join(out, "stage")
    os.makedirs(stage)
    q = (f"SELECT event_id, event_type, value FROM {ev} "
         f"WHERE {slice_pred(seed)} ORDER BY event_id")
    con.execute(f"COPY ({q}) TO '{stage}/events_slice.csv' "
                "(FORMAT csv, HEADER true)")
    con.execute(f"COPY ({q}) TO '{stage}/events_slice.json' (FORMAT json)")
    con.execute(f"COPY ({q}) TO '{stage}/events_slice.parquet' "
                "(FORMAT parquet)")
    rows = [list(r) for r in con.execute(q).fetchall()]
    _write_xlsx(f"{stage}/events_slice.xlsx",
                ["event_id", "event_type", "value"], rows)
    # the full-column slice keeps the source's physical types (pyarrow,
    # not DuckDB, so the nanosecond timestamps stay as they are)
    t = pq.read_table(f"{sf_dir}/events.parquet")
    ids = t.column("event_id").to_numpy().astype(np.int64)
    keep = (ids * 2654435761 + seed) % SLICE_MOD == 0
    os.makedirs(os.path.join(out, "slice"))
    pq.write_table(t.filter(keep), f"{out}/slice/events.parquet")


def _stage_batches(sf_dir, out, seed, n_batches):
    """The stream's source: one parquet file of documents per micro-batch,
    with increasing modification times so that the file source replays
    them in batch order, and the assignment itself (``batches.parquet``)
    for the oracle."""
    docs = pq.read_table(f"{sf_dir}/documents.parquet",
                         columns=["doc_id", "text"]).sort_by("doc_id")
    docs = docs.replace_schema_metadata(None)
    ids = docs.column("doc_id").to_numpy()
    rng = np.random.RandomState(seed % (2 ** 32))
    perm = rng.permutation(len(ids))
    batch = np.empty(len(ids), dtype=np.int32)
    batch[perm] = np.arange(len(ids)) % n_batches
    pq.write_table(pa.table({"doc_id": ids, "batch": batch}),
                   f"{out}/batches.parquet")
    stream = os.path.join(out, "stream")
    os.makedirs(stream)
    for b in range(n_batches):
        path = os.path.join(stream, f"b{b:04d}.parquet")
        pq.write_table(docs.filter(pa.array(batch == b)), path)
        os.utime(path, (STREAM_MTIME0 + b, STREAM_MTIME0 + b))


def _manifest(out):
    items = {}
    for root, _, files in os.walk(out):
        for f in sorted(files):
            p = os.path.join(root, f)
            rel = os.path.relpath(p, out)
            if rel == "manifest.json":
                continue
            if f.endswith(".parquet"):
                rows = pq.ParquetFile(p).metadata.num_rows
            elif f.endswith(".xlsx"):
                rows = None
            else:
                with open(p, "rb") as fh:
                    rows = sum(1 for _ in fh)
            items[rel] = {"rows": rows, "bytes": os.path.getsize(p)}
    return items


def generate(workload, sf_dir, cache_root, seed, warm=False):
    """Returns the input set directory, generating it when not cached."""
    stamp = source_stamp(sf_dir)
    kind = "warm" if warm else "main"
    out = os.path.join(cache_root, workload, f"{seed}-{stamp}", kind)
    if os.path.exists(os.path.join(out, "manifest.json")):
        return out
    if os.path.exists(out):
        shutil.rmtree(out)
    tmp = out + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    con = duckdb.connect()
    if workload == "procedures":
        _stage_procedures(con, sf_dir, tmp, seed)
    elif workload == "stream_state":
        _stage_batches(sf_dir, tmp, seed,
                       WARM_STREAM_BATCHES if warm else STREAM_BATCHES)
    con.close()
    manifest = {"seed": seed, "sf_dir": sf_dir, "stamp": stamp,
                "split": SPLIT, "merge_mod": MERGE_MOD,
                "inputs": _manifest(tmp)}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.rename(tmp, out)
    return out


def discovery_expected(gen_dir):
    """Literal file_definition rows for each staged file."""
    kinds = {"csv": "csv", "json": "json", "parquet": "parquet",
             "xlsx": "excel"}
    cols = [("event_id", "NUMBER"), ("event_type", "VARCHAR"),
            ("value", "FLOAT")]
    out = {}
    for ext, ftype in kinds.items():
        p = os.path.join(gen_dir, "stage", f"events_slice.{ext}")
        size = os.path.getsize(p) if os.path.exists(p) else -1
        out[f"io.file_definition.{ext}"] = (
            ["column_name", "data_type", "file_name", "file_size",
             "file_type", "ordinal"],
            [[c, t, f"events_slice.{ext}", format_size(size), ftype, i + 1]
             for i, (c, t) in enumerate(cols)])
    return out
