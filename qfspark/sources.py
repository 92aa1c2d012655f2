"""Table sources/sinks with format negotiation.

The production input per BASELINE.json is an **Iceberg** table of
Common-Crawl-style web pages; this sandbox has no Iceberg runtime jars,
so the same code paths run against parquet (identical columnar layout,
pushdown, and partition-pruning semantics — the plan-audit script
verifies pruned ReadSchema/PushedFilters either way). All qfspark readers
and sinks go through here, so pointing at a real lakehouse is a config
change, not a code change.

One commit protocol for path-addressed tables, after Delta Lake (VLDB
2020): ``commit_version`` commits shard checkpoints, stream state and
sketch snapshots as a fresh data directory plus an exclusively created
log entry ``_qf_log/<version>.json``; readers only read the log.
Catalog identifiers commit through the catalog (``write_checkpoint``).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

# Sidecar payload directory inside a path-addressed shard table; the
# leading underscore hides it from Spark's and pyarrow's table readers.
PAYLOADS_DIR = "_payloads"


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.Schema")
        return True
    except Exception:
        return False


def read_table(spark: SparkSession, location: str,
               fmt: str = "auto") -> DataFrame:
    """Read a table by path or catalog identifier.

    fmt='iceberg'  — catalog identifier (e.g. ``warehouse.db.web_pages``)
    fmt='parquet'  — filesystem path
    fmt='auto'     — iceberg when the runtime is present and the location
                     looks like an identifier, else parquet
    """
    if fmt == "auto":
        fmt = ("iceberg" if not location.endswith(".parquet")
               and _is_catalog_table(spark, location) else "parquet")
    if fmt == "iceberg":
        if not iceberg_available(spark):
            raise RuntimeError(
                "Iceberg runtime not on the classpath; add "
                "org.apache.iceberg:iceberg-spark-runtime and a catalog "
                "config, or use fmt='parquet'"
            )
        return spark.read.format("iceberg").load(location)
    if fmt == "parquet":
        return spark.read.parquet(location)
    raise ValueError(f"unknown format {fmt!r}")


def _is_catalog_table(spark: SparkSession, location: str) -> bool:
    # the string test first: the probe is a JVM Class.forName that
    # raises (and pyspark converts) for every path
    return "/" not in location and iceberg_available(spark)


def write_checkpoint(df: DataFrame, location: str, fmt: str = "auto",
                     mode: str = "append") -> None:
    """Write a checkpoint table through Spark: an Iceberg catalog
    identifier (atomic commits, snapshot isolation, time travel) or a
    parquet path. Path-addressed shard tables and versioned state commit
    through ``commit_version`` instead."""
    spark = df.sparkSession
    if fmt == "auto":
        fmt = "iceberg" if _is_catalog_table(spark, location) else "parquet"
    if fmt == "iceberg":
        if mode == "overwrite":
            df.writeTo(location).createOrReplace()
        else:
            df.writeTo(location).append()
        return
    df.write.mode(mode).parquet(location)


def table_dir(spark: SparkSession, location: str) -> str | None:
    """The local directory of a path-addressed table, or None for a
    catalog identifier. Paths must be POSIX (a shared mount on a
    cluster): sidecar payloads are written there with plain file IO."""
    if _is_catalog_table(spark, location):
        return None
    if location.startswith("file:"):
        return "/" + location[len("file:"):].lstrip("/")
    if "://" in location:
        raise ValueError(
            f"table path {location!r} is not a POSIX path; use a local or "
            "mounted directory, or a catalog identifier")
    return location


# -- versioned commits: one log entry per version --------------------------

LOG_DIR = "_qf_log"
_ENTRY = re.compile(r"(\d{20})\.json")


def commit_version(data, path: str, version: int, **meta) -> None:
    """Commit ``data`` as ``version`` of the table at ``path``: a fresh
    directory ``v<version>-<uuid>`` gets the rows (Spark writes a
    DataFrame; a pyarrow Table the driver holds, like a shard table's
    lineage rows, is one fsynced parquet file, with no Spark job), then
    the entry ``_qf_log/<version>.json`` naming it and carrying ``meta``
    is fsynced in a temp file (O_CREAT|O_EXCL) and published by
    ``os.link``, which fails if the entry exists. The loser of two
    writers of one version removes its directory and raises
    FileExistsError; so pick ``version`` before computing ``data``."""
    name = f"v{version}-{uuid.uuid4().hex}"
    dest = os.path.join(path, name)
    if isinstance(data, DataFrame):
        data.write.parquet(dest)
    else:
        import pyarrow.parquet as pq

        os.makedirs(dest)
        with open(os.path.join(dest, "part-0.parquet"), "xb") as f:
            pq.write_table(data, f)
            f.flush()
            os.fsync(f.fileno())
    os.makedirs(os.path.join(path, LOG_DIR), exist_ok=True)
    tmp = os.path.join(path, LOG_DIR, f".{name}.tmp")
    with open(tmp, "x") as f:
        json.dump({"dir": name, **meta}, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, os.path.join(path, LOG_DIR, f"{version:020d}.json"))
    except FileExistsError:
        shutil.rmtree(dest, ignore_errors=True)
        raise FileExistsError(f"{path} version {version} exists") from None
    finally:
        os.remove(tmp)


def log_versions(path: str) -> list[dict]:
    """The log entries of the table at ``path``, oldest first, each with
    its ``version`` and data ``dir``; empty without a log. Reads only."""
    log = os.path.join(path, LOG_DIR)
    names = sorted(os.listdir(log)) if os.path.isdir(log) else []
    out = []
    for m in filter(None, map(_ENTRY.fullmatch, names)):
        try:
            with open(os.path.join(log, m[0])) as f:
                out.append({"version": int(m[1]), **json.load(f)})
        except FileNotFoundError:
            pass  # pruned since the listing
    return out


def _read_entry(path: str, read, version: int | None = None):
    """The newest (or the given) log entry at ``path`` and ``read``
    (``spark.read.parquet``, ``pyarrow.parquet.read_table``) of its data
    directory; ``(None, None)`` when there is no such version."""
    by_v = {e["version"]: e for e in log_versions(path)}
    v = max(by_v, default=None) if version is None else version
    if v not in by_v:
        return None, None
    return by_v[v], read(os.path.join(path, by_v[v]["dir"]))


def read_version(spark: SparkSession, path: str,
                 version: int | None = None) -> DataFrame:
    """The rows of the newest (or the given) version at ``path``."""
    entry, df = _read_entry(path, spark.read.parquet, version)
    if entry is None:
        have = [e["version"] for e in log_versions(path)]
        raise ValueError(f"no version {version} at {path}; have {have}")
    return df


def prune_log(path: str) -> None:
    """Keep the newest two versions at ``path`` (a reader that resolved
    the log just before the last commit still finds its files): delete
    older entries, then each data directory no kept entry names, up to
    the newest version (older versions, and the data of a commit that
    failed before its log entry); a newer directory is a commit in
    flight. Sidecars in ``_payloads/`` that no kept version's
    ``payload_path`` names go too. Only a table's single writer may
    prune: another writer's sidecars, not logged yet, would go too."""
    entries = log_versions(path)
    if not entries:
        return
    keep = entries[-2:]
    for e in entries[:-2]:
        os.remove(os.path.join(path, LOG_DIR, f"{e['version']:020d}.json"))
    dirs = {e["dir"] for e in keep}
    for name in os.listdir(path):
        m = re.fullmatch(r"v(\d+)-[0-9a-f]{32}", name)
        if m and name not in dirs and int(m[1]) <= keep[-1]["version"]:
            shutil.rmtree(os.path.join(path, name), ignore_errors=True)
    payloads = os.path.join(path, PAYLOADS_DIR)
    if os.path.isdir(payloads):
        import pyarrow.parquet as pq

        used = {os.path.basename(p) for e in keep
                for p in pq.read_table(os.path.join(path, e["dir"]),
                                       columns=["payload_path"])
                .column(0).to_pylist() if p}
        for name in set(os.listdir(payloads)) - used:
            os.remove(os.path.join(payloads, name))


def approx_row_count(df: DataFrame, sample_files: int = 64,
                     fallback_count: bool = True) -> int | None:
    """Best-effort row-count estimate WITHOUT scanning the data — for
    callers that size a data structure from the corpus size at log2
    granularity (LSH plane counts, the sharded build's split rule),
    where a small constant-factor error is equivalent to the exact
    count.

    Strategy ladder:
      1. Catalyst optimized-plan statistics (exact under CBO / cached
         relations / local relations).
      2. The plan's LEAF row counts, when every leaf is a ``Range`` or
         ``LocalRelation`` (with CBO off, a ``Project`` above
         ``spark.range(n)`` drops the count from rung 1). Skipped for
         row-expanding plans, like rung 3; a filter makes it an
         overestimate, the safe direction.
      3. Parquet FOOTER metadata of the scan's input files — reads
         ``min(sample_files, |files|)`` footers driver-side (metadata
         pages only, no data IO) and scales by the file count; exact
         when every footer is read. Pre-filter count: an upstream
         filter makes this an overestimate, which only over-sizes the
         derived structure (safe direction). SKIPPED when the
         optimized plan contains a row-EXPANDING node (Generate /
         explode, Join): footers count base-file rows, so an 80x
         shingle explode would make this an 80x UNDERESTIMATE — the
         unsafe direction for callers like the sharded build's split
         rule, which keeps each shard's list rows under a hard bound.
      4. ``df.count()`` — the explicit fallback for in-memory /
         exotic sources and for row-expanding plans; the one
         remaining driver action, on a column-pruned scan. With
         ``fallback_count=False`` this step is skipped and ``None`` is
         returned instead — the action-free mode for callers gating a
         fast path who would rather take the slow path than pay an
         extra full pass for the estimate.
    """
    try:
        rc = df._jdf.queryExecution().optimizedPlan().stats().rowCount()
        if rc.isDefined():
            return int(str(rc.get()))
    except Exception:
        pass
    expands = _plan_expands_rows(df)
    if not expands:
        leaf_rows = _leaf_row_count(df)
        if leaf_rows is not None:
            return leaf_rows
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files and expands:
        files = []  # footer counts would under-estimate: drop to count()
    if files:
        try:
            import pyarrow.parquet as pq

            paths = sorted(f[len("file:"):] if f.startswith("file:")
                           else f for f in files
                           if not f.startswith(("hdfs:", "s3:", "s3a:")))
            if paths and len(paths) == len(files):
                step = max(1, len(paths) // sample_files)
                sampled = paths[::step][:sample_files]
                rows = sum(pq.ParquetFile(p).metadata.num_rows
                           for p in sampled)
                return max(1, int(rows / len(sampled) * len(paths)))
        except Exception:
            pass
    return df.count() if fallback_count else None


def _leaf_row_count(df: DataFrame) -> int | None:
    """The summed row counts of the optimized plan's leaves when each is
    a ``Range`` or ``LocalRelation`` that reports one, else None (also
    when the plan cannot be read through the JVM)."""
    from py4j.protocol import Py4JError

    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        it, total = leaves.iterator(), 0
        while it.hasNext():
            leaf = it.next()
            rc = leaf.stats().rowCount()
            if (leaf.nodeName() not in ("Range", "LocalRelation")
                    or not rc.isDefined()):
                return None
            total += int(str(rc.get()))
        return total
    except (AttributeError, Py4JError):  # no JVM plan (Spark Connect)
        return None


def _plan_expands_rows(df: DataFrame) -> bool:
    """True when the optimized logical plan contains a node that can
    emit MORE rows than its inputs — ``Generate`` (explode/posexplode/
    inline), any ``Join``, ``Expand`` (cube/rollup/grouping sets), or
    an arbitrary-arity Python stage (``MapInPandas`` /
    ``FlatMapGroupsInPandas`` / ``FlatMapCoGroupsInPandas``): leaf-file
    footer row counts are then a potentially unbounded UNDERESTIMATE
    of the result cardinality. Filters/limits (fewer rows) are fine —
    they make footers an overestimate, which callers already document
    as the safe direction. Unreadable plans report True (can't prove
    linearity → don't trust footers)."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return True
    # the tree prefix before a node name is ANY mix of spaces, ':'
    # (branch continuation, e.g. a Generate inside a Union leg), '+',
    # '-' and '|' at ANY nesting depth — the previous one-level
    # '[+:]- ' prefix missed expanding nodes nested under branch
    # continuations and could wrongly bless footer counts
    return bool(re.search(
        r"^[\s:+|-]*(?:Generate |\w*Join\b|Expand\b"
        r"|MapInPandas|FlatMap\w*)",
        plan, re.MULTILINE))
