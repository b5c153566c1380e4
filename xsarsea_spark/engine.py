"""Engine-level runtime knobs: durable materialization + conf namespace.

Two concerns every iterative operator in this engine shares:

1. **Lineage truncation that survives executor loss.** The iterative
   operators (connected components, BPE training, PageRank, SemDeDup
   assignment) must materialize intermediate state so downstream stages
   — often *both* sides of a self-join — don't replay the full lineage.
   ``DataFrame.localCheckpoint`` does that cheaply but stores the
   blocks on executor-local disk/memory WITHOUT replication: on a real
   cluster, losing one executor after the checkpoint kills the job
   unrecoverably (the lineage needed to recompute the lost blocks was
   just truncated).  ``materialize`` below picks the right primitive:
   reliable ``checkpoint()`` to a DFS directory when one is configured
   (``spark.xsarsea.checkpoint.dir`` or an already-set
   ``SparkContext.setCheckpointDir``), ``localCheckpoint`` otherwise
   (correct and fastest for single-node test runs).  Results are
   identical either way — only the fault-tolerance story changes.

2. **Tunables without code edits.** Thresholds that a 100×-scale
   operator would want to turn (driver union-find cutoff, tile/halo
   sizes) read from the ``spark.xsarsea.*`` conf namespace with the
   current literals as defaults, so behavior is unchanged unless a
   deployment overrides them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

__all__ = ["materialize", "get_conf", "get_conf_int", "CONF_CHECKPOINT_DIR",
           "scratch_path", "CONF_SCRATCH_DIR",
           "save_kv_json", "load_kv_json", "fs_list_names",
           "fs_write_text", "fs_read_text", "fs_exists"]

CONF_CHECKPOINT_DIR = "spark.xsarsea.checkpoint.dir"


def get_conf(spark: SparkSession, key: str, default: str) -> str:
    """Read ``key`` from the session conf, falling back to ``default``.

    All engine tunables live under the ``spark.xsarsea.`` prefix; they
    are runtime-settable (plain conf entries, not SQL confs), so a
    cluster operator can tune them per-job with ``--conf``.
    """
    try:
        v = spark.conf.get(key, None)
    except Exception:
        v = None
    return default if v is None else v


def get_conf_int(spark: SparkSession, key: str, default: int) -> int:
    return int(get_conf(spark, key, str(default)))


def _reliable_dir(spark: SparkSession) -> str | None:
    """The DFS checkpoint directory to use, or None for local mode.

    Priority: an explicitly configured ``spark.xsarsea.checkpoint.dir``
    conf, then a directory already set via ``sc.setCheckpointDir``.
    """
    conf_dir = get_conf(spark, CONF_CHECKPOINT_DIR, "")
    if conf_dir:
        return conf_dir
    try:
        existing = spark.sparkContext.getCheckpointDir()
    except Exception:
        existing = None
    return existing or None


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate ``df``'s lineage, durably when the deployment allows.

    - If a checkpoint directory is available (see ``_reliable_dir``),
      use reliable ``checkpoint()``: blocks go to the DFS, so the job
      survives executor loss — required at cluster scale where an
      iterative operator may run for hours past the truncation point.
    - Otherwise ``localCheckpoint()``: executor-local blocks, no extra
      I/O — the right call for single-node test/bench runs where
      "executor loss" means the whole JVM died anyway.

    The returned DataFrame is value-identical in both modes; callers
    must not rely on which primitive ran.
    """
    spark = df.sparkSession
    ckpt_dir = _reliable_dir(spark)
    if ckpt_dir is not None:
        sc = spark.sparkContext
        try:
            current = sc.getCheckpointDir()
        except Exception:
            current = None
        if not current:
            sc.setCheckpointDir(ckpt_dir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


CONF_SCRATCH_DIR = "spark.xsarsea.scratch.dir"


def scratch_path(spark: SparkSession, name: str, key: str) -> str:
    """Scratch directory for persisted operator state (indexes, weight
    artifacts, streaming checkpoints built by the suite).

    Root comes from ``spark.xsarsea.scratch.dir`` (default ``/tmp``) so
    a deployment — or two sessions sharing one host — can isolate their
    state without code edits. The exactly-once ingest core
    (``pipeline/ingest.py``: file inventories, sync markers) and the
    versioned KB-state helpers below go through the Hadoop FS API and
    accept DFS URIs (``hdfs://``, ``s3a://``) — tested with a
    ``file://`` URI root, and so does the versioned-state lookup in
    ``streaming/harness.py``. The suite's arrival staging
    (``harness.stage_arrival``, which simulates file arrivals with
    ``shutil.copy`` into watch dirs, and the ``rmtree`` cleanup) is
    local-only scaffolding; on a cluster, point the root at a shared
    mount or a DFS URI for the operator state and keep the simulated
    spool local.
    ``key`` (usually the dataset directory) is hashed into the leaf so
    runs against different datasets never collide even under the
    default shared root.
    """
    import hashlib

    root = get_conf(spark, CONF_SCRATCH_DIR, "/tmp").rstrip("/")
    digest = hashlib.md5(key.encode()).hexdigest()[:12]
    return f"{root}/xsarsea_{name}_{digest}"


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the JVM Hadoop FS API —
    works for local paths AND DFS URIs (hdfs://, s3a://, ...), unlike
    ``os``/``shutil``."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    try:
        # LocalFileSystem wraps RawLocalFileSystem with .crc sidecar
        # checksumming; state files may legitimately be replaced by
        # external writers (crash recovery, manual ops), which leaves
        # stale .crc files that fail every later read. The raw FS
        # skips sidecars; HDFS/object stores have no such wrapper and
        # keep their own integrity checks.
        fs = fs.getRawFileSystem()
    except Exception:
        pass
    return fs, hpath


def fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write ``text`` to one file through the Hadoop FS API (local
    paths AND DFS URIs). Crash-safe: write to ``path.tmp`` then
    rename over ``path`` — a crash leaves either the old file or no
    file, never a torn one.

    The file may be briefly absent between delete and rename; every
    consumer must be able to rebuild it. The versioned stream state
    does (``streaming/harness.py``): a replayed batch N rebuilds a
    missing ``v{N}`` from the version strictly below and ignores the
    leftover ``v{N}.tmp``."""
    fs, hpath = _hadoop_fs(spark, path)
    tmp = spark._jvm.org.apache.hadoop.fs.Path(path + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode()))
    finally:
        out.close()
    if fs.exists(hpath):
        fs.delete(hpath, False)
    fs.rename(tmp, hpath)


def fs_read_text(spark: SparkSession, path: str) -> str:
    """Read one text file through the Hadoop FS API."""
    fs, hpath = _hadoop_fs(spark, path)
    stream = fs.open(hpath)
    try:
        # commons-io toString (ships with Spark): py4j passes Python
        # bytearrays to byte[] BY VALUE, so readFully into a local
        # buffer would mutate a JVM copy and return zeros
        jvm = spark._jvm
        return jvm.org.apache.commons.io.IOUtils.toString(
            stream, jvm.java.nio.charset.StandardCharsets.UTF_8)
    finally:
        stream.close()


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop FS API (DFS-capable)."""
    fs, hpath = _hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def save_kv_json(spark: SparkSession, pairs: list,
                 path: str) -> None:
    """Persist BOUNDED driver-side state (model weights, ratings) as
    one JSON file, written through the Hadoop FS API so the same code
    works on a DFS.

    Exactness: ``json`` emits shortest-round-trip reprs, so float64
    values reload bit-identically (the same guarantee the parquet
    round-trip gave). Crash-safe versioning via :func:`fs_write_text`
    (tmp+rename) — the versioned-state replay contract rebuilds a
    missing version from the one strictly below.

    Why not a tiny parquet: each ``createDataFrame -> repartition(1)
    -> write`` round is a full Spark job (plan + schedule + commit
    protocol, ~0.3-0.5 s of fixed driver work); a streaming trainer
    pays it once per micro-batch for a KB of state. The bytes land on
    the same (DFS-capable) storage either way.
    """
    import json as _json

    fs_write_text(spark, path, _json.dumps(pairs))


def fs_list_names(spark: SparkSession, path: str) -> list[str]:
    """Child names of ``path`` via the Hadoop FS API (DFS-capable);
    empty list when the directory does not exist."""
    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(hpath)]


def load_kv_json(spark: SparkSession, path: str) -> list:
    """Reload a :func:`save_kv_json` artifact as a list of pairs."""
    import json as _json

    return _json.loads(fs_read_text(spark, path))
