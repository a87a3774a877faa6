"""Seeded corpus generator and oracle digests for the benchmark workloads.

Pages follow the bench-skew shape of the synthetic fixtures: a boilerplate
shell (nav, header, aside, footer), content paragraphs with inline markup,
link-heavy "related" blocks, small tables, latin-1 pages, pages chopped
mid-tag and multi-part pages split by ``<hr class="page-break">``. The
generator lives here, not in the package, so a change to the program can
never change the inputs it is measured on.

Every page is a pure function of ``(workload, seed, row)``. The heavy
pages have fixed paragraph counts (mega-page sizes at the midpoints of equal
strata of 0.5-5 MB) and fixed urls, so each seed draws new content and new
normal pages while the byte distribution and the partition of every
straggler stay the same from seed to seed.

The digests are the oracle's (``oracle.extract.extract_page``) extracted
text per url, after latest-capture-wins dedup. Corpus and digests are cached
under a key hashed from this file, the oracle's source, the model artifact,
the workload parameters and the seed.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import multiprocessing as mp
import os
import random
import shutil
import sys

# workload -> corpus shape. docs: input rows; mega: pages of 0.5-5 MB;
# over_cap: one page above the 8 MiB parse cap; dup_tail: share of rows
# re-capturing an earlier url later in time. The flagship's 2,200 rows put
# 38% of its bytes in its 4 largest pages, the share measured on a 3k-doc
# sample of the bench-skew corpus.
SHAPES = {
    "flagship_skew": {"docs": 2200, "mega": 2, "over_cap": 1,
                      "dup_tail": 0.02, "model": None},
    "job_waves": {"docs": 800, "mega": 0, "over_cap": 0,
                  "dup_tail": 0.02, "model": "artifacts/clf_v3.json"},
}

MEGA_MIN, MEGA_MAX = 500_000, 5_000_000
OVER_CAP_BYTES = 9 * 2**20
PARA_BYTES = 330  # mean bytes per generated content paragraph
EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
N_FILES = 8

_WORDS = (
    "the quick brown fox jumps over lazy dog alpha beta gamma delta epsilon "
    "document page layout region block text line word table cell header "
    "content extraction spark arrow vector batch shuffle partition cluster "
    "crawl corpus boiler plate signal noise feature graph edge node label "
    "model classify order sort span offset byte ident hash salt skew mega"
).split()
_LATIN1 = ["café", "naïve", "über", "señor", "août", "cœur"]
PART_SEP = '<hr class="page-break">'


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choices(_WORDS, k=rng.randint(lo, hi)))


def page_html(rng: random.Random, doc_no: int, n_paras: int | None = None) -> bytes:
    """One page. ``n_paras`` forces a heavy page's paragraph count; normal
    pages draw 5-60 paragraphs and may be latin-1, chopped or multi-part."""
    heavy = n_paras is not None
    latin1 = not heavy and rng.random() < 0.01
    chopped = not heavy and rng.random() < 0.005
    multi = not heavy and rng.random() < 1 / 9
    if n_paras is None:
        n_paras = rng.randint(5, 60)
    out = ["<!DOCTYPE html><html><head>",
           f"<title>Page {doc_no} &amp; friends</title>"]
    if latin1:
        out.append('<meta charset="iso-8859-1">')
    out.append("<script>var x = 1 < 2 && 3;</script>"
               "<style>.c0 { color: red; }</style></head><body>")
    nav = "".join(f'<a href="/nav{j}">{rng.choice(_WORDS)} {j}</a> '
                  for j in range(rng.randint(3, 10)))
    out.append(f"<nav><ul><li>{nav}</li></ul></nav>")
    out.append(f"<header><h1>{_words(rng, 2, 5)}</h1></header>")
    if rng.random() < 0.5:
        out.append(f"<aside>{_words(rng, 5, 15)}</aside>")
    breaks = set()
    if multi and n_paras >= 4:
        breaks = set(rng.sample(range(1, n_paras), rng.randint(1, 3)))
    for i in range(n_paras):
        if i in breaks:
            out.append(PART_SEP)
        ws = rng.choices(_WORDS, k=rng.randint(20, 80))
        if latin1 and i == 0:
            ws[0] = rng.choice(_LATIN1)
        if rng.random() < 0.10:
            k = rng.randrange(len(ws))
            tag = rng.choice(("a", "b", "span"))
            ws[k] = (f'<a href="/x{i}">{ws[k]}</a>' if tag == "a"
                     else f"<{tag}>{ws[k]}</{tag}>")
        out.append(f'<div class="c{i % 7}"><p>{" ".join(ws)}</p></div>')
    if rng.random() < 0.20:
        rel = "".join(f'<a href="/rel{j}">{_words(rng, 2, 4)}</a> ' for j in range(8))
        out.append(f'<div class="related">{rel}</div>')
        out.append(f"<div>{'!?.;:' * rng.randint(2, 6)} {rng.choice(_WORDS)}</div>")
    if rng.random() < 0.10:
        rows = "".join("<tr>" + "".join(f"<td>{_words(rng, 1, 3)}</td>" for _ in range(4))
                       + "</tr>" for _ in range(3))
        out.append(f"<table>{rows}</table>")
    out.append(f"<footer>&copy; 2026 site{doc_no % 20} &amp; co.&nbsp;"
               '<a href="/tos">terms</a></footer></body></html>')
    html = "".join(out)
    if chopped:
        cut = int(len(html) * 0.6)
        lt = html.rfind("<", 0, cut)
        html = html[: lt + max(1, (cut - lt) // 2)]
    return html.encode("latin-1", errors="replace") if latin1 else html.encode("utf-8")


def row_specs(workload: str, seed: int, shape: dict) -> list[tuple]:
    """(row, url, ts_minutes, n_paras|None) for every input row, in file
    order. Rows of one url differ in capture time; the latest one wins."""
    rng = random.Random(f"{workload}/{seed}/layout")
    n_tail = int(shape["docs"] * shape["dup_tail"])
    n_main = shape["docs"] - n_tail
    urls = [f"https://site{rng.randrange(50)}.example/{seed:x}/{u:x}"
            for u in range(n_main)]
    heavy: dict[int, int] = {}
    picks = rng.sample(range(n_main), shape["mega"] + shape["over_cap"])
    # heavy pages keep one url for every seed: the partition that holds a
    # straggler, and so its place in the task schedule, stays put
    for j, u in enumerate(picks):
        urls[u] = f"https://mega.example/page-{j}"
    m = shape["mega"]
    for j, u in enumerate(picks[:m]):  # midpoints of m equal strata of [MIN, MAX)
        size = MEGA_MIN + (MEGA_MAX - MEGA_MIN) * (j + 0.5) / m
        heavy[u] = int(size / PARA_BYTES)
    for u in picks[m:]:
        heavy[u] = int(OVER_CAP_BYTES / PARA_BYTES)
    specs = [(u, urls[u], u, heavy.get(u)) for u in range(n_main)]
    for t in range(n_tail):  # later recapture of an earlier url
        u = rng.randrange(n_main)
        while u in heavy:
            u = rng.randrange(n_main)
        specs.append((len(specs), urls[u], 1440 + u + t, None))
    return specs


def latest_rows(specs: list[tuple]) -> set[int]:
    """Row ids that survive latest-capture-wins dedup (ts is unique per url)."""
    best: dict[str, tuple] = {}
    for row, url, ts, _ in specs:
        if url not in best or ts > best[url][0]:
            best[url] = (ts, row)
    return {row for _, row in best.values()}


def _gen_chunk(args):
    """Worker: generate rows and, for rows that survive dedup, the oracle
    digest of their extracted text."""
    root, workload, seed, chunk, keep, model_path = args
    if root not in sys.path:
        sys.path.insert(0, root)
    from oracle.extract import extract_page, load_model

    model = load_model(os.path.join(root, model_path)) if model_path else None
    out = []
    for row, url, ts, n_paras in chunk:
        html = page_html(random.Random(f"{workload}/{seed}/{row}"), row, n_paras)
        digest = None
        if row in keep:
            rec = extract_page(url, html, model)
            digest = [hashlib.sha256(rec["extracted_text"].encode("utf-8")).hexdigest(),
                      rec["n_blocks"], rec["pipeline_version"]]
        out.append((row, url, ts, html, digest))
    return out


def cache_key(root: str, workload: str, seed: int, shape: dict) -> str:
    h = hashlib.sha256()
    h.update(json.dumps([workload, seed, shape, N_FILES]).encode())
    for rel in ("perfbench/corpus.py", "oracle/extract.py", shape["model"]):
        if rel:
            with open(os.path.join(root, rel), "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def ensure_corpus(root: str, cache_dir: str, workload: str, seed: int,
                  procs: int, docs: int | None = None) -> dict:
    """Build (or reuse) the workload's parquet corpus and oracle digests;
    ``docs`` shrinks the corpus (self-test). Returns {"pages": dir,
    "oracle": {url: [sha256, n_blocks, version]}, "props": {...}}."""
    shape = dict(SHAPES[workload], docs=docs or SHAPES[workload]["docs"])
    key = cache_key(root, workload, seed, shape)
    path = os.path.join(cache_dir, f"{workload}-{seed}-{shape['docs']}-{key}")
    if not os.path.exists(os.path.join(path, "_DONE")):
        _build(root, path, workload, seed, shape, procs)
    with open(os.path.join(path, "oracle.json")) as f:
        oracle = json.load(f)
    with open(os.path.join(path, "props.json")) as f:
        props = json.load(f)
    return {"pages": os.path.join(path, "pages"), "oracle": oracle, "props": props}


def _build(root: str, path: str, workload: str, seed: int, shape: dict,
           procs: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    specs = row_specs(workload, seed, shape)
    keep = latest_rows(specs)
    model = shape["model"]
    # heavy rows first, then round-robin chunks, so the pool stays busy
    order = sorted(specs, key=lambda s: -(s[3] or 0))
    chunks = [order[i::procs * 4] for i in range(procs * 4)]
    jobs = [(root, workload, seed, c, {s[0] for s in c} & keep, model) for c in chunks]
    pool = mp.get_context("spawn").Pool(procs)
    try:
        rows = [r for part in pool.map(_gen_chunk, jobs) for r in part]
    finally:
        pool.close()
        pool.join()
    rows.sort()
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "pages"))
    per = -(-len(rows) // N_FILES)
    for i in range(N_FILES):
        part = rows[i * per:(i + 1) * per]
        table = pa.table({
            "url": pa.array([r[1] for r in part], pa.string()),
            "warc_ts": pa.array([EPOCH + dt.timedelta(minutes=r[2]) for r in part],
                                pa.timestamp("us", tz="UTC")),
            "html": pa.array([r[3] for r in part], pa.binary()),
            "text": pa.array([None] * len(part), pa.string()),
            "lang": pa.array(["en"] * len(part), pa.string()),
        })
        pq.write_table(table, os.path.join(tmp, "pages", f"part-{i:03d}.parquet"))
    oracle = {r[1]: r[4] for r in rows if r[4] is not None}
    sizes = sorted((len(r[3]) for r in rows), reverse=True)
    total = sum(sizes)
    props = {
        "docs": len(rows),
        "urls": len(oracle),
        "bytes": total,
        "top4_byte_share": round(sum(sizes[:4]) / total, 4),
        "top1pct_byte_share": round(sum(sizes[:max(1, len(sizes) // 100)]) / total, 4),
        "max_doc_bytes": sizes[0],
        "dup_factor": round(len(rows) / len(oracle), 4),
        "mega_pages": shape["mega"],
        "over_cap_pages": shape["over_cap"],
        "model": model,
    }
    with open(os.path.join(tmp, "oracle.json"), "w") as f:
        json.dump(oracle, f)
    with open(os.path.join(tmp, "props.json"), "w") as f:
        json.dump(props, f)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
