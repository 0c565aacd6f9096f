"""The ``ingest_jsonl`` workload: the reference's Extract → Transform → Load
over a seeded JSONL inbox, then the same inbox drained as a stream, then
selective reads of the result.

The inbox is ``N_FILES`` files of ``events``-schema lines in event-time
order (file ``f`` holds hour ``f``).  About 2% of lines are redeliveries:
byte-identical copies of an event from the same or the previous file, so
both the batch dedup and the watermarked stream dedup must drop them.  A
known few lines per file are malformed and must land in quarantine.  The
generator is pure Python on ``random.Random(seed)``, so a seed gives the
same bytes; files get fixed modification times so the file stream source
sees them in event-time order.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import statistics
import time

from pyspark.sql import functions as F

N_FILES = 16
EVENTS_PER_FILE = 3_000
REDELIVERY_SHARE = 0.02
MALFORMED_PER_FILE = 3
READS = 8  # filtered read-back queries per iteration
READ_WIDTH = 1_500  # event ids per read-back range
PUBLISH_PARTITIONS = 4
GENERATOR_VERSION = "1"  # bump when generate() changes
_TYPES = ("view", "click", "add_to_cart", "purchase", "search")
_CHANNELS = ("web", "ios", "android", "email")
_INBOX_CACHE_KEEP = 12


def _line(eid: int, ts_ms: int, uid: int, etype: str, value: float, ch: str, page: int) -> str:
    secs, ms = divmod(ts_ms, 1000)
    ts = time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(secs)) + f".{ms:03d}Z"
    props = json.dumps({"channel": ch, "page": page}, separators=(",", ":"))
    return json.dumps(
        {"event_id": eid, "ts": ts, "user_id": uid, "event_type": etype,
         "value": value, "props": props},
        separators=(",", ":"),
    )


def generate(inbox: str, seed: int) -> dict:
    """Write the inbox for ``seed``; return what the checks expect."""
    rng = random.Random(seed)
    first_id = rng.randrange(1, 10**9)
    t0_ms = (1_704_067_200 + 3600 * rng.randrange(24 * 365)) * 1000
    n_unique = N_FILES * EVENTS_PER_FILE
    purchase_ids: list[int] = []
    files: list[list[str]] = []
    for f in range(N_FILES):
        lines = []
        for k in range(EVENTS_PER_FILE):
            eid = first_id + f * EVENTS_PER_FILE + k
            etype = rng.choice(_TYPES)
            if etype == "purchase":
                purchase_ids.append(eid)
            lines.append(_line(
                eid, t0_ms + f * 3_600_000 + rng.randrange(3_600_000),
                rng.randrange(1, 5_000), etype, round(rng.uniform(0, 500), 2),
                rng.choice(_CHANNELS), rng.randrange(1, 50),
            ))
        files.append(lines)
    originals = [list(lines) for lines in files]
    n_redelivered = 0
    for f in range(N_FILES):
        pool = originals[f] + (originals[f - 1] if f else [])
        dups = rng.sample(pool, int(EVENTS_PER_FILE * REDELIVERY_SHARE))
        n_redelivered += len(dups)
        files[f].extend(dups)
        files[f].extend(f"@@malformed {seed}/{f}/{j}@@" for j in range(MALFORMED_PER_FILE))
        rng.shuffle(files[f])
    os.makedirs(inbox)
    sha = hashlib.sha256()
    n_bytes = 0
    for f, lines in enumerate(files):
        data = ("\n".join(lines) + "\n").encode()
        sha.update(data)
        n_bytes += len(data)
        path = os.path.join(inbox, f"part-{f:02d}.jsonl")
        with open(path, "wb") as fh:
            fh.write(data)
        os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))
    reads = []
    purchases = sorted(purchase_ids)
    for _ in range(READS):
        lo = first_id + rng.randrange(n_unique - READ_WIDTH)
        hi = lo + READ_WIDTH - 1
        expect = sum(1 for e in purchases if lo <= e <= hi)
        reads.append([lo, hi, expect])
    return {
        "seed": seed,
        "lines": sum(len(x) for x in files),
        "bytes": n_bytes,
        "sha256": sha.hexdigest(),
        "unique": n_unique,
        "redelivered": n_redelivered,
        "malformed": N_FILES * MALFORMED_PER_FILE,
        "reads": reads,
    }


def inbox_for(cache_dir: str, seed: int) -> tuple[str, dict]:
    """The inbox for ``seed``, generated once and cached by seed."""
    params = repr((GENERATOR_VERSION, N_FILES, EVENTS_PER_FILE, REDELIVERY_SHARE,
                   MALFORMED_PER_FILE, READS, READ_WIDTH))
    tag = hashlib.sha256(params.encode()).hexdigest()[:12]
    base = os.path.join(cache_dir, f"inbox-{tag}-{seed}")
    meta_path = os.path.join(base, "meta.json")
    inbox = os.path.join(base, "inbox")
    if os.path.isfile(meta_path):
        with open(meta_path) as fh:
            os.utime(base)
            return inbox, json.load(fh)
    shutil.rmtree(base, ignore_errors=True)
    meta = generate(inbox, seed)
    with open(meta_path + ".tmp", "w") as fh:
        json.dump(meta, fh)
    os.replace(meta_path + ".tmp", meta_path)
    olds = sorted(
        (os.path.join(cache_dir, d) for d in os.listdir(cache_dir) if d.startswith("inbox-")),
        key=os.path.getmtime,
    )
    for old in olds[:-_INBOX_CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)
    return inbox, meta


def _transform(spark, df):
    return (
        df.dropDuplicates(["event_id"])
        .withColumn("day", F.to_date("ts"))
        .withColumn("hour", F.hour("ts"))
        .withColumn("amount", F.round("value", 2))
        .withColumn("is_purchase", F.col("event_type") == "purchase")
        .withColumn("channel", F.get_json_object("props", "$.channel"))
    )


def _tree_bytes(root: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for d, _, files in os.walk(root):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(d, f))
            n_files += 1
    return n_bytes, n_files


def _committed_rows(root: str, step: str) -> int:
    """Rows in the committed versions of ``step``: parquet footers, or
    lines of JSON part files."""
    import pyarrow.parquet as pq

    from etl_template_spark.io import list_versions

    rows = 0
    for v in list_versions(root, step):
        vdir = os.path.join(root, step, f"v={v}")
        for f in os.listdir(vdir):
            path = os.path.join(vdir, f)
            if f.endswith(".parquet"):
                rows += pq.ParquetFile(path).metadata.num_rows
            elif f.endswith(".json") and not f.startswith(("_", ".")):
                with open(path, "rb") as fh:
                    rows += sum(1 for _ in fh)
    return rows


def run_iteration(spark, inbox: str, meta: dict, work: str, tracer) -> dict:
    """One timed Pipeline run, stream drain, publish and read-back; returns
    their timings and what ``inspect`` needs.  Nothing here is bookkeeping
    of the benchmark: the caller times this call as the unit's wall."""
    from etl_template_spark.io import read_jsonl_quarantine, read_versioned, write_versioned
    from etl_template_spark.pipeline import Pipeline
    from etl_template_spark.streaming.jobs import (
        EVENTS_STREAM_SCHEMA, dedup_stream, read_events_stream, versioned_stream_sink,
    )

    root = os.path.join(work, "data")
    held: dict = {}

    def extract(s, _):
        split = read_jsonl_quarantine(s, inbox, EVENTS_STREAM_SCHEMA)
        held["split"] = split
        write_versioned(split.bad, root, "quarantine", fmt="json")
        return split.good

    pipe = (
        Pipeline("ingest", root)
        .step("extract", extract)
        .step("transform", _transform, input_step="extract")
        .step("load", lambda s, df: df, input_step="transform", fmt="json")
    )
    out: dict = {"root": root, "status_path": pipe.status_path}
    t0 = time.perf_counter()
    with tracer.span("pipeline"):
        out["run"] = pipe.run(spark)
    out["pipeline_s"] = time.perf_counter() - t0
    held["split"].unpersist()

    t0 = time.perf_counter()
    with tracer.span("stream_drain"):
        events = read_events_stream(spark, inbox, max_files_per_trigger=2)
        deduped = dedup_stream(events.where(F.col("event_id").isNotNull()))
        query = versioned_stream_sink(deduped, root, "stream_events",
                                      os.path.join(work, "checkpoints"))
        query.awaitTermination()
    out["drain_s"] = time.perf_counter() - t0
    if query.exception() is not None:
        raise RuntimeError(f"stream failed: {query.exception()}")
    out["query"] = query

    # Publish the Transform output through the connector, clustered by
    # event_id so selective reads skip row groups.  The read-back goes
    # through this connector-written version: the connector cannot scan
    # timestamp columns of versions the JVM writer committed (parquet
    # INT96 arrives as an Arrow nanosecond timestamp, which Spark rejects).
    t0 = time.perf_counter()
    with tracer.span("publish"):
        (read_versioned(spark, root, "transform")
         .repartitionByRange(PUBLISH_PARTITIONS, "event_id")
         .write.format("etl_versioned").option("step", "published").mode("append").save(root))
    out["publish_s"] = time.perf_counter() - t0
    reads = []
    counts = []
    with tracer.span("readback"):
        for lo, hi, _ in meta["reads"]:
            t0 = time.perf_counter()
            with tracer.span("read"):
                counts.append(
                    spark.read.format("etl_versioned").option("step", "published").load(root)
                    .where(F.col("event_id").between(lo, hi) & (F.col("event_type") == "purchase"))
                    .count()
                )
            reads.append(time.perf_counter() - t0)
    out["read_s"] = reads
    out["read_counts"] = counts
    return out


def inspect(it: dict, meta: dict) -> None:
    """Add the counters the checks and layer metrics need to ``it``, from
    the manifest, the stream's progress and the files committed under the
    data root.  Runs after the unit's wall is taken."""
    root = it["root"]
    with open(it["status_path"]) as fh:
        manifest = json.load(fh)
    it["steps_s"] = {s["StepName"]: s["DurationMillis"] / 1000 for s in manifest["Steps"]}
    it["rows_out"] = it["run"].steps["transform"].rows_out
    it["load_rows"] = it["run"].steps["load"].rows_out
    it["quarantined"] = _committed_rows(root, "quarantine")
    it["progress"] = [json.loads(p.json) for p in it["query"].recentProgress]
    it["stream_rows"] = _committed_rows(root, "stream_events")
    it["bytes_written"], it["files_written"] = _tree_bytes(root)
    it["versions"] = sum(
        1 for d, subdirs, files in os.walk(root)
        if os.path.basename(d).startswith("v=") and "_SUCCESS" in files
    )
    it["partitions"] = _partitions(root, meta["reads"])
    del it["run"], it["query"]


def _partitions(root: str, reads: list) -> tuple[int, int]:
    """Row-group partitions the connector plans for the read-back filters,
    against the partitions an unfiltered read would plan."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

    from etl_template_spark.datasource import VersionedReader

    total = read = 0
    for lo, hi, _ in reads:
        reader = VersionedReader(root, "published", None)
        total += len(reader.partitions())
        reader.pushFilters([GreaterThanOrEqual(("event_id",), lo), LessThanOrEqual(("event_id",), hi)])
        read += len(reader.partitions())
    return read, total


def check(meta: dict, it: dict) -> dict[str, str]:
    """Failed operations of one iteration (pipeline, drain, read <i>),
    each with its mismatch, against what the generator expects."""
    errors = {}
    pipe = []
    if it["rows_out"] != meta["unique"]:
        pipe.append(f"rows_out {it['rows_out']} != distinct events {meta['unique']}")
    if it["load_rows"] != meta["unique"]:
        pipe.append(f"load rows {it['load_rows']} != distinct events {meta['unique']}")
    if it["quarantined"] != meta["malformed"]:
        pipe.append(f"quarantined {it['quarantined']} != malformed {meta['malformed']}")
    if pipe:
        errors["pipeline"] = "; ".join(pipe)
    if it["stream_rows"] != it["rows_out"]:
        errors["drain"] = f"stream committed {it['stream_rows']} != transform rows {it['rows_out']}"
    for i, ((lo, hi, want), got) in enumerate(zip(meta["reads"], it["read_counts"])):
        if got != want:
            errors[f"read {i}"] = f"[{lo}, {hi}] returned {got}, expected {want}"
    return errors


def layer_metrics(meta: dict, its: list[dict]) -> dict:
    """Per-layer metrics of the ingest iterations (medians across them)."""
    def med(f):
        return statistics.median(f(it) for it in its)

    def prog(it, key):
        return [p["durationMs"].get(key, 0) for p in it["progress"]]

    def state(it, key):
        return max((op.get(key, 0) for p in it["progress"] for op in p.get("stateOperators", [])),
                   default=0)

    return {
        "pipeline.extract_s": med(lambda it: it["steps_s"]["extract"]),
        "pipeline.transform_s": med(lambda it: it["steps_s"]["transform"]),
        "pipeline.load_s": med(lambda it: it["steps_s"]["load"]),
        "pipeline.overhead_s": med(lambda it: it["pipeline_s"] - sum(it["steps_s"].values())),
        "pipeline.rows_out": med(lambda it: it["rows_out"]),
        "pipeline.rows_per_s": med(lambda it: meta["lines"] / it["pipeline_s"]),
        "io.bytes_written": med(lambda it: it["bytes_written"]),
        "io.files_written": med(lambda it: it["files_written"]),
        "io.versions_committed": med(lambda it: it["versions"]),
        "io.write_amp": med(lambda it: it["bytes_written"] / meta["bytes"]),
        "stream.batches": med(lambda it: len(it["progress"])),
        "stream.batch_p50_ms": med(lambda it: statistics.median(prog(it, "triggerExecution"))),
        "stream.addbatch_ms": med(lambda it: sum(prog(it, "addBatch"))),
        "stream.state_rows": med(lambda it: state(it, "numRowsTotal")),
        "stream.state_mem_bytes": med(lambda it: state(it, "memoryUsedBytes")),
        "stream.rows_per_s": med(lambda it: meta["lines"] / it["drain_s"]),
        "datasource.publish_s": med(lambda it: it["publish_s"]),
        "datasource.read_s": med(lambda it: sum(it["read_s"])),
        "datasource.partitions_read": med(lambda it: it["partitions"][0]),
        "datasource.partitions_total": med(lambda it: it["partitions"][1]),
    }
