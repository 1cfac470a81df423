"""Streaming sources.

The reference is a one-shot batch exporter (``Query.java:146-170``); the
Spark-native engine additionally exposes the same tables as *streams* so
the xmlpipe2 kernel and the event operators run under Structured
Streaming. The file source replays the driver's ``events`` parquet as a
stream (exactly-once, checkpointable); on a cluster the same operators
bind to Kafka/rate sources unchanged — only this module swaps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def events_schema() -> T.StructType:
    """Logical schema after timestamp normalization."""
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _stage_dir(sf_dir: str) -> str:
    """The file stream source requires a *directory* of data files; the
    testdata table is a single parquet file, while Spark-written tables
    (e.g. the decade-smoke replicas) are directories of part files. Stage
    a symlink dir over the actual data files either way (no data copy)."""
    import glob
    import hashlib
    import os

    src = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    files = (
        sorted(glob.glob(os.path.join(src, "*.parquet")))
        if os.path.isdir(src)
        else [src]
    )
    # tag over the resolved file LIST, not just the table path: a rewritten
    # Spark table gets new random part-file names, which must map to a fresh
    # staging dir — otherwise stale links beyond the new file count would
    # keep feeding old data into the stream. Each file's size and mtime
    # join the tag too: a single-file table rewritten in place keeps its
    # name, and must still get a fresh dir (and _SCHEMA_CACHE key)
    stamps = []
    for f in files:
        st = os.stat(f)
        stamps.append(f"{f}\0{st.st_size}\0{st.st_mtime_ns}")
    tag = hashlib.md5("\0".join([src] + stamps).encode()).hexdigest()[:12]
    root = os.path.join("/tmp", "spark_graft_stream")
    d = os.path.join(root, tag)
    # housekeeping: a rewritten source table mints a fresh tag dir, so
    # prior tags accumulate forever. Remove sibling tag dirs whose links
    # dangle (lexists but target gone) — broken links cannot be serving
    # any live stream, so this is safe even with concurrent sessions.
    if os.path.isdir(root):
        import shutil

        for sib in os.listdir(root):
            p = os.path.join(root, sib)
            if sib == tag or not os.path.isdir(p):
                continue
            links = [os.path.join(p, x) for x in os.listdir(p)]
            if links and any(
                os.path.lexists(x) and not os.path.exists(x) for x in links
            ):
                shutil.rmtree(p, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    for i, f in enumerate(files):
        link = os.path.join(d, f"events-{i:03d}.parquet")
        # lexists, not exists: exists() follows the symlink, so a link whose
        # target was replaced reads as absent and symlink() raises EEXIST
        if not os.path.lexists(link):
            os.symlink(f, link)
    return d


#: staged-dir -> probed parquet schema. The stage dir is content-addressed
#: (its tag hashes the resolved source file list with each file's size and
#: mtime, see _stage_dir), so a rewritten source table — renamed part files
#: or one file rewritten in place — mints a new key and can never serve a
#: stale schema. Schema METADATA only — never data or results; it removes the
#: per-stream-start footer probe that every streaming gate paid (r15,
#: guide §1.2 "don't recompute": five gates × three bench passes probed
#: the same immutable file list fifteen times).
_SCHEMA_CACHE: dict[str, "T.StructType"] = {}


def stream_events(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """``readStream`` over the events table (file source, replayable).

    File streams require a user-supplied schema; rather than hardcoding
    the timestamp physical type (the driver has shipped events.ts as both
    TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across rounds), probe the
    batch reader's schema for the same file — a footer-only read — and
    normalize ``ts`` to a µs TimestampType either way, identical to
    ``sources/registry.load_table``. The probe is memoized per staged
    dir (content-addressed over the file list, sizes and mtimes), so a session running
    many streams over one source reads the footer once.
    """
    # vanilla-session safety: without this runtime conf a NANOS file is
    # unreadable at all — don't depend on the session factory having set it
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # pragma: no cover - conf locked on exotic sessions
        pass
    d = _stage_dir(sf_dir)
    probed = _SCHEMA_CACHE.get(d)
    if probed is None:
        probed = spark.read.parquet(d).schema
        _SCHEMA_CACHE[d] = probed
    reader = spark.readStream.schema(probed)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(d)
    for field in probed.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            # NANOS-as-long: integer `div`, NOT `/` — double division loses
            # µs precision on ~1.7e18 ns values
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif field.name == "ts" and isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df
