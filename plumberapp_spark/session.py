"""SparkSession factory tuned for the engine.

Local test harness runs ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
configs are the ones we would set cluster-side: AQE on (runtime re-plan, skew
join handling, partition coalescing), Arrow for the pandas-UDF slow path,
shuffle partitions sized to cores rather than the 200 default (at cluster
scale this is overridden per-job from the optimizer's advice — see
``plumberapp_spark.optimizer.advisor``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def _ui_enabled(value: str | None) -> str:
    """``SPARK_GRAFT_UI`` as the ``spark.ui.enabled`` value Spark
    accepts: ``1``/``true``/``yes``/``on`` in any case enable the UI,
    anything else (unset included) disables it — a typo never fails the
    session build."""
    on = (value or "").strip().lower() in {"1", "true", "yes", "on"}
    return "true" if on else "false"


def get_spark(app_name: str = "plumberapp_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the session.

    ``shuffle_partitions`` defaults to the core count — on a real cluster the
    optimizer recomputes it from the LP's core allocation (SURVEY §4.1
    "Parallelism assignment").
    """
    cpus = _cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # Off for bench/driver runs (default); SPARK_GRAFT_UI=true turns
        # the UI on for ad-hoc profiling (tools/stage_profile.py reads
        # per-stage metrics from its REST API — guide §7.1)
        .config("spark.ui.enabled", _ui_enabled(os.environ.get("SPARK_GRAFT_UI")))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Managed-table warehouse (bucketed tables, sources/bucketing.py)
        # kept out of the repo tree; static conf, so it lives here.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
        # Belt-and-suspenders for TIMESTAMP(NANOS) parquet (which stock
        # Spark rejects at scan time): read ns as long. The driver testdata
        # currently carries TIMESTAMP(MICROS) — read natively as
        # TIMESTAMP_NTZ — but scaled copies / older fixtures may still be
        # nanos; either way ts_as_timestamp() normalizes from the actual
        # schema, never from an assumption about the file.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Silence WindowExec's "No Partition Defined" warning, WARN-per-task
    # on every run: the library's unpartitioned windows all sit on
    # plan-sized / bucket-count-sized frames BY CONTRACT (audited in
    # VERDICT r7; corpus-sized rank work routes through
    # operators/windows.ranked_running_total), and the noise buries real
    # warnings in bench logs. A literal partition key does NOT suppress
    # it — Catalyst constant-folds the key away — so the targeted logger
    # is the only clean switch. Scope is exactly this one class; every
    # other WARN still surfaces.
    try:
        jvm = spark._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:  # noqa: BLE001 — log plumbing must never break a session
        pass
    return spark


def ensure_read_confs(spark: SparkSession) -> SparkSession:
    """Make an externally-provided (vanilla) session able to read any
    variant of the driver's parquet. ``nanosAsLong`` is a runtime SQL
    conf, so it can be set on any live session — required because
    harnesses (the correctness driver, a user's own notebook) build their
    own SparkSession and never call :func:`get_spark`. It only changes
    behavior for TIMESTAMP(NANOS) files (which stock Spark otherwise
    rejects with PARQUET_TYPE_ILLEGAL); TIMESTAMP(MICROS) — what the
    driver testdata carries today — reads natively as TIMESTAMP_NTZ with
    or without it.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


def ts_as_timestamp(dtype, col="ts"):
    """Column expression converting a physical ``ts`` column to a proper
    timestamp, derived from the ACTUAL schema — the engine's analog of the
    reference's element_spec discipline (pa/graphdef_util.py:755-774):
    dtype is a runtime value, never an assumption baked into a query.

    * TimestampType / TimestampNTZType  -> passthrough
    * integral (epoch-nanos via nanosAsLong) -> timestamp_micros(ns div
      1000). Integer division on purpose: epoch-ns (~1.7e18) exceeds
      double's 2^53 exact range, so float ``/ 1000`` can be off by 1 µs
      at window boundaries.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    c = F.col(col) if isinstance(col, str) else col
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return c
    if isinstance(dtype, (T.LongType, T.IntegerType)):
        if not isinstance(col, str):
            raise TypeError("integral ts conversion needs a column name")
        return F.timestamp_micros(F.expr(f"{col} div 1000"))
    raise TypeError(f"unsupported ts dtype: {dtype}")


def events_with_timestamp(spark: SparkSession, sf_dir: str):
    """The ``events`` table with ``ts`` normalized to a timestamp
    regardless of the file's physical type (nanos-long, micros, NTZ)."""
    df = load_table(spark, sf_dir, "events")
    return df.withColumn("ts", ts_as_timestamp(df.schema["ts"].dataType, "ts"))


def table_bytes(sf_dir: str, name: str) -> int | None:
    """On-disk size of a driver table (single parquet file or a Spark
    parquet directory); None when the path isn't locally stat-able
    (remote URIs) — callers fall back to a count-based decision. Used
    for zero-job plan routing (e.g. q36's window-vs-prefix-sum choice)."""
    import glob

    p = f"{sf_dir}/{name}.parquet"
    try:
        if os.path.isfile(p):
            return os.path.getsize(p)
        if os.path.isdir(p):
            return sum(os.path.getsize(f) for f in glob.glob(f"{p}/*.parquet"))
    except OSError:
        pass
    return None


def stats_bounds(
    sf_dir: str, name: str, col: str, n: int | None = None, max_footers: int = 64
) -> list[float] | None:
    """Approximate ``n``-quantile boundary vector for a numeric column,
    derived ENTIRELY from parquet row-group footer statistics — zero
    Spark jobs, zero data scan, microseconds on the driver.

    Replaces ``with_row_idx``'s approxQuantile driver job (a full scan
    of the projected key per call). Correctness does not depend on the
    quantiles being exact: the row index is invariant to bucket
    placement (any order-consistent boundary vector yields the same
    final index — see ``operators/stream.with_row_idx``), so a footer
    histogram interpolated linearly within each row group is always
    safe; skewed data only costs bucket balance, never correctness.

    At 100 TB the same trick holds: at most ``max_footers`` file footers
    are read (evenly sampled), which bounds driver work regardless of
    table size — Spark's own scan planning reads the same footers.
    Returns None (caller falls back to approxQuantile) for non-numeric
    keys, missing statistics, or degenerate min==max ranges.
    """
    import glob

    import pyarrow.parquet as pq

    n = n or _cpus()
    if n <= 1:
        return None
    p = f"{sf_dir}/{name}.parquet"
    if os.path.isfile(p):
        files = [p]
    elif os.path.isdir(p):
        files = sorted(glob.glob(f"{p}/*.parquet"))
    else:
        return None
    if not files:
        return None
    if len(files) > max_footers:
        step = len(files) / max_footers
        files = [files[int(i * step)] for i in range(max_footers)]
    spans: list[tuple[float, float, int]] = []  # (min, max, rows) per row group
    try:
        for f in files:
            md = pq.ParquetFile(f).metadata
            rg0 = md.row_group(0)
            idx = next(
                (i for i in range(rg0.num_columns) if rg0.column(i).path_in_schema == col),
                None,
            )
            if idx is None:
                return None
            for g in range(md.num_row_groups):
                c = md.row_group(g).column(idx)
                st = c.statistics
                if st is None or not st.has_min_max:
                    return None
                mn, mx = st.min, st.max
                if isinstance(mn, bool) or not isinstance(mn, (int, float)):
                    return None
                spans.append((float(mn), float(mx), md.row_group(g).num_rows))
    except Exception:
        return None
    total = sum(r for _, _, r in spans)
    lo = min(mn for mn, _, _ in spans)
    hi = max(mx for _, mx, _ in spans)
    if total == 0 or not (hi > lo):
        return None

    # CDF assuming uniform density inside each row group's [min, max]
    def cdf(v: float) -> float:
        s = 0.0
        for mn, mx, r in spans:
            if v >= mx:
                s += r
            elif v > mn:
                s += r * (v - mn) / (mx - mn)
        return s

    bounds = []
    for i in range(1, n):
        t = total * i / n
        a, b = lo, hi
        for _ in range(40):  # bisect to ~(hi-lo)/2^40 resolution
            m = (a + b) / 2
            if cdf(m) < t:
                a = m
            else:
                b = m
        bounds.append((a + b) / 2)
    out = sorted(set(bounds))
    return out or None


def row_idx_bounds(
    sf_dir: str,
    name: str,
    col: str,
    bytes_per_bucket: int = 16 << 20,
    min_buckets: int = 4,
) -> list[float] | None:
    """Boundary vector for ``with_row_idx`` with a SIZE-SCALED bucket
    count: ``ceil(on_disk_bytes / bytes_per_bucket)`` clamped to
    [min_buckets, default parallelism]. At sf0.1 a 4 MB table gets 4
    buckets instead of 32 — measured 0.77 s → 0.46 s for the zip query,
    pure task-scheduling overhead — while at cluster scale the count
    rides default parallelism exactly as before. Returns None when
    footer stats are unusable (caller falls back to approxQuantile at
    the default parallelism)."""
    size = table_bytes(sf_dir, name)
    if size is None:
        n = _cpus()
    else:
        n = max(min_buckets, min(size // bytes_per_bucket + 1, _cpus()))
    return stats_bounds(sf_dir, name, col, n=n)


# (session, dir, table, mtime) -> DataFrame. A DataFrame is an immutable
# logical plan, so handing the same object to every caller is safe;
# caching skips the per-call footer/schema resolution job (~0.1-0.3 s per
# read.parquet) exactly as a long-lived serving session would. Values
# hold the session object so an id() is never reused while its entry
# lives. Lifetime control (ADVICE r4): entries of STOPPED sessions are
# purged lazily on every cache miss (a stopped SparkContext has
# ``_jsc is None``), so a long-lived multi-session process doesn't pin
# dead sessions and their plans; and the path's mtime is part of the
# key, so data rewritten in-process at the same path is re-read instead
# of silently served stale (one os.stat per call — no Spark job).
_TABLE_CACHE: dict = {}


def _path_mtime(path: str) -> float:
    """Freshness stamp for the table cache key. For a parquet DIRECTORY
    the directory's own mtime misses in-place part-file rewrites (same
    names: no create/delete, no dir mtime bump — ADVICE r5), so take the
    max over the directory and its entries' mtimes. Partitioned
    relations (postings/_b=N/, cells/_cell=N/) keep their part files
    one level deeper, where an in-place rewrite bumps no first-level
    mtime either — recurse into immediate SUBDIRECTORIES one extra
    level (ADVICE r11; two scandirs deep, no Spark job).
    ``clear_table_cache()`` remains the escape hatch."""

    def _scan(p: str, depth: int, newest: float) -> float:
        try:
            with os.scandir(p) as it:
                for entry in it:
                    try:
                        newest = max(newest, entry.stat().st_mtime)
                        if depth > 0 and entry.is_dir(follow_symlinks=False):
                            newest = _scan(entry.path, depth - 1, newest)
                    except OSError:
                        pass
        except OSError:
            pass
        return newest

    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return st.st_mtime
        return _scan(path, 1, st.st_mtime)
    except OSError:
        return -1.0


def fixture_path(spark, sf_dir: str, kind: str, table: str, *params) -> str:
    """Warehouse path of a build-once fixture:
    ``{warehouse}/{kind}_{table}_{sfdir}[_{param}...]`` — keyed by the
    source table's scale directory, so fixtures of different scales
    coexist in one warehouse."""
    import re
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).path or "spark-warehouse"
    tag = re.sub(r"[^0-9A-Za-z]+", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    return os.path.join(wh, "_".join([kind, table, tag, *map(str, params)]))


def ensure_fixture(path: str, sf_dir: str, table: str, build, complete, fields=()) -> str:
    """The freshness contract every ``ensure_*`` fixture shares: the
    sidecar ``{path}/source_mtime.txt`` records the source table's mtime
    OBSERVED AT BUILD TIME (:func:`_path_mtime`, which catches in-place
    part-file rewrites) plus ``fields`` — a layout format, a segment
    count. Unless the sidecar matches the current values exactly and
    ``complete()`` (the fixture's own completeness check: a marker, a
    delta or tombstone present) holds, the directory is wiped and
    ``build()`` recreates it. Comparing recorded-vs-current mtime, not
    marker-vs-source, is immune to 1 s-granularity filesystems where a
    rewrite lands in the marker's mtime granule (ADVICE r7); recording
    the format makes a layout change rebuild instead of failing at
    serve time (VERDICT r8 #4). ``fields`` may be a callable: it is
    evaluated for the check and again after the build (a segment count
    is known only then). Returns ``path``."""
    import shutil

    source_mtime = _path_mtime(f"{sf_dir}/{table}.parquet")

    def stamp() -> str:
        vals = fields() if callable(fields) else fields
        return " ".join([repr(source_mtime), *map(str, vals)])

    sidecar = os.path.join(path, "source_mtime.txt")
    try:
        with open(sidecar) as fh:
            fresh = fh.read() == stamp()
    except OSError:
        fresh = False
    if fresh and complete():
        return path
    shutil.rmtree(path, ignore_errors=True)
    build()
    with open(sidecar, "w") as fh:
        fh.write(stamp())
    return path


def _purge_stopped_sessions() -> None:
    dead = [
        k
        for k, (sess, _) in _TABLE_CACHE.items()
        if getattr(sess.sparkContext, "_jsc", None) is None
    ]
    for k in dead:
        del _TABLE_CACHE[k]


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one of the driver-provided parquet tables (any session).
    Cached per (session, path, mtime)."""
    path = f"{sf_dir}/{name}.parquet"
    key = (id(spark), sf_dir, name, _path_mtime(path))
    hit = _TABLE_CACHE.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    _purge_stopped_sessions()
    # drop superseded entries for this same (session, path) — older mtimes
    # can never be served again, don't let rewrites grow the dict
    for k in [k for k in _TABLE_CACHE if k[:3] == key[:3]]:
        del _TABLE_CACHE[k]
    ensure_read_confs(spark)
    df = spark.read.parquet(path)
    _TABLE_CACHE[key] = (spark, df)
    return df


def clear_table_cache() -> None:
    _TABLE_CACHE.clear()


def read_parquet_cached(spark: SparkSession, *paths: str):
    """``spark.read.parquet(*paths)`` with the :func:`load_table`
    cache discipline extended to arbitrary relation paths (index
    segments, centroids, postings): keyed on (session, paths, max
    mtime), so an immutable relation pays its footer/schema resolution
    job ONCE per session instead of once per serve. The round-11
    profiler measured 10-14 driver-side jobs per lexical serve, most
    of them repeated ``read.parquet`` footer reads of unchanged
    segment relations — exactly what a long-lived serving process
    would never re-pay. Any rewrite (new tombstone, compaction swap,
    appended segment) bumps a path mtime and misses the cache, so
    staleness is impossible for directory-granular rewrites (the same
    scandir-max contract as :func:`_path_mtime`)."""
    key = (id(spark), paths, tuple(_path_mtime(p) for p in paths))
    hit = _TABLE_CACHE.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    _purge_stopped_sessions()
    for k in [k for k in _TABLE_CACHE if k[:2] == key[:2]]:
        del _TABLE_CACHE[k]
    schema = _footer_schema(paths[0])
    df = (spark.read if schema is None else spark.read.schema(schema)).parquet(*paths)
    _TABLE_CACHE[key] = (spark, df)
    return df


def _footer_schema(path: str):
    """The data schema Spark records in the footer of the first data file
    under a local ``path``, read on the driver. Spark's own inference
    reads one footer too when ``mergeSchema`` is off, but it spends a
    Spark job on it. Partition columns are not in the files; Spark
    still infers them from the directory names when a data schema is
    given. None (Spark infers) when ``path`` is not local, holds no data
    file, or its file carries no recorded Spark schema. Names Spark
    skips are skipped: a leading ``.``, or a leading ``_`` outside a
    ``key=value`` partition directory."""
    import json

    try:
        import pyarrow.parquet as pq
        from pyspark.sql.types import StructType

        first = path if os.path.isfile(path) else None
        for root, dirs, files in os.walk(path):
            dirs[:] = sorted(
                d for d in dirs if not d.startswith(".") and (not d.startswith("_") or "=" in d)
            )
            data = sorted(f for f in files if not f.startswith(("_", ".")))
            if data:
                first = os.path.join(root, data[0])
                break
        if first is None:
            return None
        recorded = (pq.read_schema(first).metadata or {}).get(
            b"org.apache.spark.sql.parquet.row.metadata"
        )
        return None if recorded is None else StructType.fromJson(json.loads(recorded))
    except (ImportError, OSError, ValueError, KeyError, TypeError):
        return None


def local_parquet_rows(
    path: str, max_rows: int = 1024, max_bytes: int = 64 << 20
) -> list[dict] | None:
    """Driver-side read of a TINY parquet relation (one-row scalars,
    k-row centroid tables) via pyarrow — zero Spark jobs, the
    :func:`stats_bounds` precedent. Returns None when the path is not
    a locally readable parquet dir/file or holds more than
    ``max_rows`` rows / ``max_bytes`` on-disk bytes (callers MUST fall
    back to a Spark read — e.g. on object stores); never raises. The
    row guard keeps this a metadata read, and the byte guard (VERDICT
    r11 #9) bounds what a wide-row relation under the row cap can pull
    into Python objects: a 1M-row vector table fits 1<<20 rows but not
    64 MB, so it stays on the executors."""
    import glob

    try:
        import pyarrow.parquet as pq

        if os.path.isfile(path):
            files = [path]
        elif os.path.isdir(path):
            files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        else:
            return None
        if not files:
            return None
        if sum(os.path.getsize(f) for f in files) > max_bytes:
            return None
        total = 0
        batches = []
        for f in files:
            pf = pq.ParquetFile(f)
            total += pf.metadata.num_rows
            if total > max_rows:
                return None
            batches.append(pf.read())
        import pyarrow as pa

        return pa.concat_tables(batches).to_pylist()
    except Exception:  # noqa: BLE001 — callers fall back to Spark
        return None


def parquet_dir_rows(*paths: str) -> int | None:
    """Total row count across locally readable parquet dirs/files from
    footer METADATA only (no data is read). A missing path counts 0
    rows (a pruned-empty partition directory); any unreadable/remote
    path returns None — callers keep the scan's natural partitioning.
    Serving paths use this to size ``coalesce`` from the actual probed
    input instead of a constant (guide §2.2/§6: scale-adaptive
    partitioning, never tuned to one core count)."""
    import glob

    try:
        import pyarrow.parquet as pq

        total = 0
        for path in paths:
            if os.path.isfile(path):
                files = [path]
            elif os.path.isdir(path):
                files = glob.glob(os.path.join(path, "*.parquet"))
            elif not os.path.exists(path):
                continue
            else:
                return None
            for f in files:
                total += pq.ParquetFile(f).metadata.num_rows
        return total
    except Exception:  # noqa: BLE001 — callers keep natural partitioning
        return None


def write_partitioned(df, out: str, col: str) -> None:
    """``df`` written to ``out`` partitioned by ``col``, so a reader that
    filters on ``col`` opens only the matching directories (index buckets,
    IVF cells). Write first, then check: ``partitionBy`` lands no data
    file for an empty frame, and a directory holding only ``_SUCCESS``
    fails schema inference on every later read. A driver-side listing
    through the Hadoop FileSystem API (so object stores work too; zero
    Spark jobs) finds that case, and only then is the frame rewritten
    plain, one file carrying the schema in its footer; a reader's filter
    on ``col`` is then an ordinary column filter over zero rows. A
    non-empty frame is computed once, with no probe ahead of the write.
    Callers pass ``df`` already laid out the way they want its files
    (``repartition(col)`` for one file per partition value)."""
    df.write.partitionBy(col).mode("overwrite").parquet(out)
    spark = df.sparkSession
    root = spark._jvm.org.apache.hadoop.fs.Path(out)
    files = root.getFileSystem(spark._jsc.hadoopConfiguration()).listFiles(root, True)
    while files.hasNext():
        if not files.next().getPath().getName().startswith(("_", ".")):
            return
    df.coalesce(1).write.mode("overwrite").parquet(out)


def collect_bounded(df, what: str) -> list:
    """Collect a small-side relation (query terms, phrase pairs, query
    vectors) under the bounded-collect contract: at most 100k rows
    reach the driver, and a larger relation raises with guidance
    instead of collecting it."""
    rows = df.limit(100_001).collect()
    if len(rows) > 100_000:
        raise ValueError(
            f"{what} exceeds the broadcastable contract (> 100000 rows); "
            "batch the queries"
        )
    return rows


def local_relation(spark: SparkSession, rows, schema):
    """JVM-resident local relation from already-collected rows.

    ``spark.createDataFrame(list_of_rows)`` parks the data in a
    *Python* RDD: every downstream action (broadcast build, collect,
    scan) re-pays a Python-worker round trip — measured ~0.5 s per
    action warm for a 6 k-row relation, 1.0 s for a one-row scalar
    (the queries_analytic VALUES-literal finding, guide §4). The Arrow
    path ships the rows to the JVM once at creation (~30 ms) and every
    action stays JVM-only (~3x cheaper per action, measured). Rows are
    positional (Row is a tuple subclass), matched to ``schema`` — by
    construction the schema of the plan they were collected from.
    Falls back to the plain path when pandas/Arrow cannot represent
    the rows; ``schema`` must be a DDL string or StructType either
    way, so the relation's types never depend on inference."""
    try:
        import pandas as pd
        from pyspark.sql.types import StructType

        st = (
            StructType.fromDDL(schema) if isinstance(schema, str) else schema
        )
        if not rows:
            return spark.createDataFrame([], st)
        pdf = pd.DataFrame(
            [tuple(r) for r in rows],
            columns=[f.name for f in st.fields],
            dtype=object,
        )
        return spark.createDataFrame(pdf, st)
    except Exception:  # noqa: BLE001 — identical rows, slower path
        return spark.createDataFrame(list(rows), schema)


def one_row_relation(spark: SparkSession, schema: str, *values):
    """One-row relation as ``range(1) + literals`` — a pure-JVM plan
    (no Python RDD: 87 ms vs 1056 ms per ``.first()`` measured, and a
    broadcast build off it never spins a Python worker). For the
    driver-side-merged scalar relations every serve cross-joins."""
    from pyspark.sql.types import StructType

    st = StructType.fromDDL(schema)
    assert len(st.fields) == len(values)
    return spark.range(1).select(
        *[
            F.lit(v).cast(f.dataType).alias(f.name)
            for f, v in zip(st.fields, values)
        ]
    )


def load_all(spark: SparkSession, sf_dir: str) -> dict:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}
