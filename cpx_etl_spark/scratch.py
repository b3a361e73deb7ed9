"""Per-process scratch directories with guaranteed cleanup.

Round-trip queries (xlsx, db-load, interchange, partitioned sink) need a
fresh directory per invocation so concurrent or stale runs never share
mutable state — but a bare ``tempfile.mkdtemp`` per call leaks /tmp
space across gate sweeps and min-of-N bench passes (r3 ADVICE). All
scratch dirs are created under one process-owned root that is removed
atexit, so repeated invocations stay isolated *and* bounded.

Standing artifacts — persisted indexes, shard sets and snapshots that
deliberately outlive the process — live under user_cache_root() and go
through standing_artifact: one location rule, one completeness rule and
one meta publish/read pair for every kind.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

_ROOT: str | None = None


def _root() -> str:
    global _ROOT
    if _ROOT is None or not os.path.isdir(_ROOT):
        _ROOT = tempfile.mkdtemp(prefix="cpx_etl_scratch_")
        atexit.register(shutil.rmtree, _ROOT, ignore_errors=True)
    return _ROOT


def scratch_dir(prefix: str = "d_") -> str:
    """A fresh empty directory, auto-removed when the process exits."""
    return tempfile.mkdtemp(prefix=prefix, dir=_root())


def user_cache_root() -> str:
    """Persistent per-user 0700 cache root for standing artifacts that
    deliberately OUTLIVE the process (trained ANN / signature indexes:
    build once, serve many). A predictable name directly under shared
    /tmp would let another local user pre-plant an artifact that a
    gated query then silently serves (the vendor-zip threat model,
    code-review r10) — so the root carries the uid, is created 0700,
    and a pre-existing dir with the wrong owner or looser permissions
    is refused rather than trusted."""
    import stat as stat_mod

    d = os.path.join(tempfile.gettempdir(), f"cpx_cache_{os.getuid()}")
    os.makedirs(d, mode=0o700, exist_ok=True)
    # lstat, NOT stat: a pre-planted SYMLINK at the predictable name
    # would pass a follow-the-link ownership check while redirecting
    # every cache write into an attacker-chosen victim-owned directory
    # (code-review r10)
    st = os.lstat(d)
    if stat_mod.S_ISLNK(st.st_mode) or not stat_mod.S_ISDIR(st.st_mode):
        raise RuntimeError(
            f"refusing cache root {d!r}: not a real directory "
            "(symlink pre-plant?)"
        )
    if st.st_uid != os.getuid() or (st.st_mode & 0o077):
        raise RuntimeError(
            f"refusing cache root {d!r}: owned by uid {st.st_uid} with "
            f"mode {oct(st.st_mode & 0o777)}; expected uid {os.getuid()} "
            "and mode 0700"
        )
    return d


_META = "_META.json"


def corpus_index_dir(sf_dir: str, source: str, kind: str,
                     tag_parts: list[str]) -> str:
    """Where the standing artifact ``kind`` built from ``sf_dir``'s
    ``source`` with parameters ``tag_parts`` lives: a directory under
    user_cache_root() named by a digest of the corpus path, the kind,
    the parameters and the source's file signature. The signature is
    the one sources.registry keys its schema cache by (every non-hidden
    file, recursively, with its size and mtime in ns), so a rewritten
    source gets a new location instead of serving a stale artifact."""
    import hashlib

    from cpx_etl_spark.sources.registry import _signature

    src = os.path.join(sf_dir, source)
    sig = _signature(src)
    if sig is None:
        raise FileNotFoundError(f"standing artifact source {src!r} not found")
    parts = [os.path.abspath(sf_dir), kind, *tag_parts, repr(sig)]
    digest = hashlib.md5("|".join(parts).encode()).hexdigest()[:16]
    return os.path.join(user_cache_root(), f"{kind}_{digest}")


def standing_artifact(spark, sf_dir: str, source: str, kind: str,
                      tag_parts: list[str], build) -> str:
    """Ensure the standing artifact ``kind`` exists for ``sf_dir`` and
    return its directory (corpus_index_dir). The one home of the rules
    every persisted index, shard set and snapshot shares:

    - Complete exactly when its meta file exists. ``build(path)`` writes
      the data and publishes the meta of ``kind`` LAST (publish_meta),
      so a directory with data but no meta is half-built: the build
      branch clears it and builds again. A meta of another kind at the
      location raises in read_meta.
    - Built once per (corpus, parameters): every later call is one meta
      probe. Queries call their builder in the body (an idempotent
      ensure) and declare it as ``setup`` at registration, so timed
      runs build nothing.
    - Driver-local only: the location digest comes from local os.stat
      of the source and user_cache_root() is a local per-user
      directory, so a deployment whose fs.defaultFS is remote must not
      point these caches at it. The meta itself goes through the Hadoop
      FileSystem API (publish_meta/read_meta) because the shard writer
      also takes caller-supplied paths, which may be remote."""
    path = corpus_index_dir(sf_dir, source, kind, tag_parts)
    meta, fs = _hadoop_path(spark, path)
    if not fs.exists(meta):
        _rebuild(path, build)
        read_meta(spark, path, kind)  # the builder published it
    return path


def _rebuild(path: str, build) -> None:
    shutil.rmtree(path, ignore_errors=True)
    build(path)


def _hadoop_path(spark, path: str):
    p = spark._jvm.org.apache.hadoop.fs.Path(os.path.join(path, _META))
    return p, p.getFileSystem(spark._jsc.hadoopConfiguration())


def read_meta(spark, path: str, kind: str) -> dict:
    """The meta a writer published at ``path`` with publish_meta,
    without its ``kind`` field. Raises ValueError when ``path`` holds no
    complete artifact or one of another kind. Reads through the Hadoop
    FileSystem API, the storage abstraction the parquet reads resolve
    through (not spark.read.text: Spark's file index hides
    underscore-prefixed files)."""
    import json

    p, fs = _hadoop_path(spark, path)
    if not fs.exists(p):
        raise ValueError(f"{path!r} is not a {kind} artifact (no {_META})")
    stream = fs.open(p)
    try:
        meta = json.loads(bytes(stream.readAllBytes()).decode("utf-8"))
    finally:
        stream.close()
    got = meta.pop("kind", None)
    if got != kind:
        raise ValueError(f"{path!r} holds a {got!r} artifact, expected {kind!r}")
    return meta


def publish_meta(spark, path: str, kind: str, meta: dict) -> None:
    """Publish an artifact's meta, the writer's last step: create a tmp
    file, then rename it over the meta with OVERWRITE (FileContext:
    atomic on HDFS-like stores, the narrowest window elsewhere; a
    delete-then-rename would open a window in which a valid artifact
    has no meta). A failed write deletes its tmp file."""
    import json

    jvm = spark._jvm
    target, fs = _hadoop_path(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(os.path.join(path, f"{_META}.tmp"))
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps({"kind": kind, **meta}).encode("utf-8")))
    except BaseException:
        out.close()
        try:
            fs.delete(tmp, False)
        except Exception:
            pass
        raise
    out.close()
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        target.toUri(), spark._jsc.hadoopConfiguration()
    )
    overwrite = spark.sparkContext._gateway.new_array(
        jvm.org.apache.hadoop.fs.Options.Rename, 1
    )
    overwrite[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
    fc.rename(tmp, target, overwrite)
