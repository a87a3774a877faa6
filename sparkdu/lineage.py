"""M6 — per-partition lineage, checkpointing, exact resume [B:6,14].

Absent in the reference (single-process, restart-from-zero); required by the
north rule. Design (SURVEY SS4.3 item 4):

- every page row gets a stable ``partition_key = pmod(xxhash64(url), K)``;
- the run proceeds in WAVES of partition keys; each wave is one distributed
  job: extract -> idempotent overwrite of ``extracted/partition_key=<k>/``
  directories -> snapshot commit -> THEN append `checkpoints` rows
  (status='done') for exactly those keys. Lineage commit strictly after data
  commit, so a crash can only lose the in-flight wave (its partial files are
  overwritten on retry);
- the checkpoint append is not a Spark job: the driver writes the wave's
  rows as one parquet file under a hidden temp name, fsyncs it and
  os.replace's it into ``checkpoints/`` (`_append_checkpoint`, through
  `snapshots._atomic_write`). It shares the snapshot commit's contract: the
  output root is a local (POSIX) filesystem with atomic rename. The
  directory still reads back with ``spark.read.parquet`` as
  CHECKPOINTS_SCHEMA, old Spark-written files included;
- resume = anti-join (J7) of partition keys against done checkpoints of the
  same run_id. On Iceberg, each wave is one snapshot commit; locally each
  wave is a dynamic-partition parquet overwrite.

The fused UDF variant here additionally emits per-row parse metrics
(n_nodes, had_error) that aggregate into the checkpoint counters.
"""

from __future__ import annotations

import datetime as _dt
import os
import uuid
from dataclasses import dataclass
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import parse as P
from . import snapshots
from .api import _load_model
from .tables import CHECKPOINTS_SCHEMA

EXTRACTED_LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("extracted_text", T.StringType()),
        T.StructField("n_blocks", T.IntegerType()),
        T.StructField("spans", T.ArrayType(T.StructType([
            T.StructField("node_id", T.IntegerType()),
            T.StructField("start", T.LongType()),
            T.StructField("end", T.LongType()),
        ]))),
        T.StructField("pipeline_version", T.StringType()),
        T.StructField("partition_key", T.IntegerType()),
        T.StructField("n_nodes", T.IntegerType()),
        T.StructField("n_bytes_in", T.LongType()),
        T.StructField("had_error", T.IntegerType()),
    ]
)


@dataclass
class ExtractJobConfig:
    run_id: str
    out_dir: str                      # root: <out>/extracted, <out>/checkpoints
    num_partitions: int = 64
    waves: int = 8
    model_path: Optional[str] = None
    resume: bool = False
    fail_after_waves: Optional[int] = None  # test hook (T5 failure injection)
    input_format: str = "html"        # html | pagexml | pdf (native legs)


def _extract_doc_metrics(html, model):
    s, truncated = P.sniff_decode(html)
    err = 0
    try:
        blocks = P.parse_blocks(s)
    except Exception:
        blocks, err = [], 1
    blocks.sort(key=lambda r: r[0])
    n_nodes = len(blocks)
    if model is not None:
        keep = P._score_blocks(blocks, model)
    else:
        keep = [P.rule_is_content(r[7], r[11]) for r in blocks]
    ver = P.model_version(model)
    parts, spans, off = [], [], 0
    for r, k in zip(blocks, keep):
        if not k:
            continue
        n = r[5]
        spans.append((r[0], off, off + n))
        parts.append(r[4])
        off += n + 1
    if truncated:
        parts.append(P.TRUNCATION_MARKER)
    return "\n".join(parts), len(spans), spans, ver, n_nodes, err


def lineage_extract_udf(model_path: Optional[str], dedup: bool = True):
    import pyarrow as pa

    from .api import _dedup_record_batches, _span_list_array

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        model = _load_model(model_path)
        if dedup:
            batches = _dedup_record_batches(batches)
        for rb in batches:
            idx = {n: i for i, n in enumerate(rb.schema.names)}
            out = {k: [] for k in ("extracted_text", "n_blocks", "spans",
                                   "pipeline_version", "n_nodes", "n_bytes_in", "had_error")}
            for h in rb.column(idx["html"]):
                html = h.as_py()
                try:
                    txt, nb, sp, ver, nn, err = _extract_doc_metrics(html, model)
                except Exception:
                    txt, nb, sp, nn, err = "", 0, [], 0, 1
                    ver = P.model_version(model)
                out["extracted_text"].append(txt)
                out["n_blocks"].append(nb)
                out["spans"].append(sp)
                out["pipeline_version"].append(ver)
                out["n_nodes"].append(nn)
                out["n_bytes_in"].append(len(html) if html is not None else 0)
                out["had_error"].append(err)
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(idx["url"]),
                    rb.column(idx["warc_ts"]),
                    pa.array(out["extracted_text"], pa.string()),
                    pa.array(out["n_blocks"], pa.int32()),
                    _span_list_array(pa, out["spans"]),
                    pa.array(out["pipeline_version"], pa.string()),
                    rb.column(idx["partition_key"]),
                    pa.array(out["n_nodes"], pa.int32()),
                    pa.array(out["n_bytes_in"], pa.int64()),
                    pa.array(out["had_error"], pa.int32()),
                ],
                names=[f.name for f in EXTRACTED_LINEAGE_SCHEMA.fields],
            )

    return fn


NATIVE_VERSIONS = {"pagexml": "pagexml-1.0.0", "pdf": "pdf-1.0.0"}


def native_extract_udf(fmt: str, dedup: bool = True):
    """The PAGE-XML/PDF twin of `lineage_extract_udf`: same wave-committed
    lineage contract (every input document yields exactly one output row;
    fail-whole parses emit an empty row with had_error=1 so the checkpoint
    counters account for them), but the per-document extraction is the
    native leg — parse_pagexml/parse_pdf + the content filter + the
    reading-order assembly (assemble_doc_text, differentially gated
    against the DataFrame-agg form). The job synthesizes url/warc_ts from
    doc_id and carries the payload in the `html` column so the wave
    machinery (salting, J9 sort, checkpoints, resume) is shared verbatim.
    """
    import pyarrow as pa

    from .api import _dedup_record_batches, _span_list_array

    if fmt == "pagexml":
        from .pagexml import assemble_doc_text, parse_pagexml as parse

        items_of = lambda p: p["nodes"]  # noqa: E731
    elif fmt == "pdf":
        from .pdf import assemble_doc_text, parse_pdf as parse

        items_of = lambda p: p["runs"]  # noqa: E731
    else:
        raise ValueError(f"unknown native format: {fmt!r}")
    ver = NATIVE_VERSIONS[fmt]

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        if dedup:
            batches = _dedup_record_batches(batches)
        for rb in batches:
            idx = {n: i for i, n in enumerate(rb.schema.names)}
            out = {k: [] for k in ("extracted_text", "n_blocks", "spans",
                                   "n_nodes", "n_bytes_in", "had_error")}
            for h in rb.column(idx["html"]):
                payload = h.as_py()
                # belt over the parsers' fail-whole braces: ANY escaping
                # exception still becomes a had_error row, never a failed
                # wave (same contract as lineage_extract_udf)
                try:
                    parsed = parse(payload) if payload is not None else None
                    if parsed is None:
                        txt, nb, sp, nn, err = "", 0, [], 0, 1
                    else:
                        items = items_of(parsed)
                        txt, nb, sp = assemble_doc_text(items)
                        nn, err = len(items), 0
                except Exception:
                    txt, nb, sp, nn, err = "", 0, [], 0, 1
                out["extracted_text"].append(txt)
                out["n_blocks"].append(nb)
                out["spans"].append(sp)
                out["n_nodes"].append(nn)
                out["n_bytes_in"].append(
                    len(payload) if payload is not None else 0)
                out["had_error"].append(err)
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(idx["url"]),
                    rb.column(idx["warc_ts"]),
                    pa.array(out["extracted_text"], pa.string()),
                    pa.array(out["n_blocks"], pa.int32()),
                    _span_list_array(pa, out["spans"]),
                    pa.array([ver] * rb.num_rows, pa.string()),
                    rb.column(idx["partition_key"]),
                    pa.array(out["n_nodes"], pa.int32()),
                    pa.array(out["n_bytes_in"], pa.int64()),
                    pa.array(out["had_error"], pa.int32()),
                ],
                names=[f.name for f in EXTRACTED_LINEAGE_SCHEMA.fields],
            )

    return fn


def done_partition_keys(spark: SparkSession, cfg: ExtractJobConfig) -> set[int]:
    cp = os.path.join(cfg.out_dir, "checkpoints")
    if not os.path.isdir(cp):
        return set()
    # explicit schema: a directory holding only a crashed writer's leftovers
    # (`_temporary/`, a hidden `.inprogress` file) reads as empty instead of
    # failing schema inference
    df = spark.read.schema(CHECKPOINTS_SCHEMA).parquet(cp)
    rows = (
        df.filter((F.col("run_id") == cfg.run_id) & (F.col("status") == "done"))
        .select("partition_key").distinct().collect()
    )
    return {r[0] for r in rows}


def _append_checkpoint(cp_dir: str, rows: list[dict], wave: int) -> None:
    """Append one wave's checkpoint rows as one zstd parquet file, written
    on the driver by `snapshots._atomic_write` (hidden temp name, fsync,
    os.replace) — no Spark job. Timestamps are stored as UTC-adjusted
    micros, so `spark.read.parquet(cp_dir)` infers exactly
    CHECKPOINTS_SCHEMA."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(CHECKPOINTS_SCHEMA))
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf, compression="zstd")
    os.makedirs(cp_dir, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}-w{wave:05d}.zstd.parquet"
    snapshots._atomic_write(os.path.join(cp_dir, name), buf.getvalue().to_pybytes())


def run_extract_job(spark: SparkSession, pages: DataFrame, cfg: ExtractJobConfig) -> dict:
    """Wave-committed, resumable extraction run. Returns summary counters."""
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    ext_dir = os.path.join(cfg.out_dir, "extracted")
    cp_dir = os.path.join(cfg.out_dir, "checkpoints")

    k = cfg.num_partitions
    keyed = pages.select("url", "warc_ts", "html").withColumn(
        "partition_key", F.pmod(F.xxhash64("url"), F.lit(k)).cast("int")
    )
    done = done_partition_keys(spark, cfg) if cfg.resume else set()
    todo = sorted(set(range(k)) - done)
    waves = [todo[i :: cfg.waves] for i in range(cfg.waves)]
    waves = [w for w in waves if w]

    total = {"n_pages": 0, "n_nodes": 0, "n_errors": 0, "waves_run": 0}
    for wi, wave_keys in enumerate(waves):
        if cfg.fail_after_waves is not None and wi >= cfg.fail_after_waves:
            raise RuntimeError(f"injected failure before wave {wi} (test hook)")
        started = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
        wave_df = (
            keyed.filter(F.col("partition_key").isin([int(x) for x in wave_keys]))
            .repartition(len(wave_keys), "partition_key")
            .sortWithinPartitions(  # J9 inside the UDF: one shuffle total
                F.col("url").asc(), F.col("warc_ts").desc(), F.xxhash64("html").desc()
            )
            .mapInArrow(
                lineage_extract_udf(cfg.model_path)
                if cfg.input_format == "html"
                else native_extract_udf(cfg.input_format),
                schema=EXTRACTED_LINEAGE_SCHEMA,
            )
        )
        # A6: free pipeline metrics via observe() — evaluated during the
        # write action, no extra job (SURVEY SS2.4 A6 [B:6,14])
        from pyspark.sql import Observation

        obs = Observation(f"{cfg.run_id}-wave{wi}")
        wave_df = wave_df.observe(
            obs,
            F.count(F.lit(1)).alias("rows_out"),
            F.sum("had_error").alias("errors"),
            F.sum("n_bytes_in").alias("bytes_in"),
        )
        # one execution of the (expensive) parse UDF: cache for write + stats
        wave_df = wave_df.persist()
        stats_df = wave_df.groupBy("partition_key").agg(
            F.count("*").alias("n_pages"),
            F.sum("n_nodes").alias("n_nodes"),
            F.sum("n_bytes_in").alias("n_bytes_in"),
            F.sum("had_error").alias("n_errors"),
        )
        wave_df.drop("n_nodes", "n_bytes_in", "had_error").write.mode(
            "overwrite"
        ).partitionBy("partition_key").parquet(ext_dir)
        # data committed; now lineage (strictly after — SURVEY hard-part 5)
        finished = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
        stats = {r["partition_key"]: r for r in stats_df.collect()}
        cp_rows = []
        for pk in wave_keys:
            s = stats.get(pk)
            cp_rows.append(
                {
                    "run_id": cfg.run_id,
                    "partition_key": int(pk),
                    "n_pages": int(s["n_pages"]) if s else 0,
                    "n_nodes": int(s["n_nodes"]) if s else 0,
                    "n_bytes_in": int(s["n_bytes_in"]) if s else 0,
                    "n_errors": int(s["n_errors"]) if s else 0,
                    "started_ts": started,
                    "finished_ts": finished,
                    "status": "done",
                }
            )
            if s:
                total["n_pages"] += int(s["n_pages"])
                total["n_nodes"] += int(s["n_nodes"])
                total["n_errors"] += int(s["n_errors"])
        # table-format commit (sparkdu.snapshots) BEFORE the checkpoint
        # append: resume keys off checkpoints, so a crash between the two
        # re-runs the wave and re-commits the same partition keys
        # (idempotent replace). Order data -> snapshot -> lineage means no
        # state where checkpointed data is invisible to snapshot readers.
        total["snapshot_id"] = snapshots.commit_wave_snapshot(
            cfg.out_dir, cfg.run_id, wi, [int(x) for x in wave_keys]
        )
        _append_checkpoint(cp_dir, cp_rows, wi)
        wave_df.unpersist()
        total["waves_run"] += 1
        # an all-empty wave (every key filtered to 0 rows) can leave the
        # CollectMetrics node unexecuted on some Spark versions, and
        # Observation.get then raises instead of returning zeros (4.1
        # returns zeros); only such a wave falls back, any other wave's
        # failure propagates
        try:
            observed = obs.get
        except Exception:
            if any(r["n_pages"] for r in cp_rows):
                raise
            observed = {"rows_out": 0, "errors": 0, "bytes_in": 0}
        total.setdefault("observed", []).append(observed)
    return total
