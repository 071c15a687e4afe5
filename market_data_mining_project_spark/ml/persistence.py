"""MLlib model persistence — the load-or-train cache surface (M8/M9).

The reference caches its 16 trained models + scaler + metrics as pickles and
serves from the cache when present (``Website/market/dunnhumby/
ml_models.py:101-214``; the ``has_cached_models`` check at
``ml_models.py:197-210``, with a ``force_retrain`` override) — without it
every session refits. Spark-first, the artifact is the whole
``PipelineModel`` (assembler + scaler + classifier serialize as ONE
directory via ``model.write().save()`` — SURVEY §3.3), plus a
``metrics.json`` sidecar mirroring the reference's cached metrics dict.

Cache key = ``name`` (model identity: kind + horizon) × ``data_version``
(a fingerprint of the training inputs: realpath'd sf_dir plus size + mtime
of every source file). Data rewritten on disk changes the version, so
staleness is detected automatically — no manual invalidation step, and no
way to serve a model trained on different data. Writes go through a
temp-dir + ``os.replace`` rename so a concurrent reader never observes a
half-written model.

This implementation is LOCAL-FILESYSTEM ONLY: the existence checks,
sidecar writes and the atomic staging rename all use ``os``/``shutil``.
``PipelineModel.save/load`` themselves speak any Hadoop filesystem, so a
shared-storage deployment replaces exactly those local calls with their
``FileSystem`` twins (exists / create / rename) — ``model_cache_root``
rejects remote URIs loudly rather than half-working (the model directory
would land on HDFS while the sidecar and rename silently hit a literal
local ``hdfs:`` folder, so the cache would never hit).
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import json
import os
import shutil
import tempfile
import threading
import uuid
import weakref
from collections.abc import Callable

from pyspark import SparkContext
from pyspark.ml import PipelineModel

from market_data_mining_project_spark.sources.tables import path_signature


_PINNED = threading.local()  # .root: this thread's pinned cache root


@contextlib.contextmanager
def pinned_cache_root(root: str):
    """Resolve every artifact path on this thread under ``root`` until
    exit, whatever SPARK_GRAFT_MODEL_DIR says by then. A background fit
    queued under one root must publish there: re-reading the env at save
    time put a sandbox's fit into the default cache once the sandbox had
    restored the variable, replacing artifacts other frames were reading."""
    prev = getattr(_PINNED, "root", None)
    _PINNED.root = root
    try:
        yield
    finally:
        _PINNED.root = prev


def model_cache_root() -> str:
    """Cache root — override with SPARK_GRAFT_MODEL_DIR (or, on one thread,
    :func:`pinned_cache_root`). Must be a local path (see the module
    docstring); remote URIs fail fast here instead of silently splitting
    artifacts across two filesystems."""
    root = getattr(_PINNED, "root", None) or os.environ.get(
        "SPARK_GRAFT_MODEL_DIR", os.path.join(tempfile.gettempdir(), "mdmp_model_cache")
    )
    if "://" in root:
        raise NotImplementedError(
            f"SPARK_GRAFT_MODEL_DIR={root!r}: this cache's sidecar/rename layer "
            "is local-fs only; mount shared storage locally or port the os/"
            "shutil calls to the Hadoop FileSystem API"
        )
    return root


def _walk_version(sf_dir: str, tables: tuple[str, ...]) -> str:
    """Fingerprint of the training inputs: realpath + (path, size, mtime) of
    every file of every source table the model trains on. Any rewrite of the
    data produces a new version → a new cache key → retraining, which is the
    invalidation contract (the reference's cache has no such guard — it
    serves stale models after a re-import until force_retrain)."""
    h = hashlib.md5()
    h.update(os.path.realpath(sf_dir).encode())
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        files = (
            sorted(glob.glob(os.path.join(glob.escape(p), "**", "*"), recursive=True))
            if os.path.isdir(p)
            else [p]
        )
        for f in files:
            if os.path.isfile(f):
                st = os.stat(f)
                h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def model_dir(name: str, version: str) -> str:
    return os.path.join(model_cache_root(), f"{name}-{version}")


def atomic_publish(staging: str, final: str, overwrite: bool) -> None:
    """Publish a fully-written staging directory to its final path — THE
    one rename dance every cache here uses (models, metrics artifacts,
    derived tables), so the concurrency contract lives in one place.

    ``overwrite=False`` (content-addressed caches, where ``final`` is keyed
    by its inputs' version and can only ever exist COMPLETE): plain
    ``os.replace``; losing the rename race to a concurrent builder means
    their input-identical artifact is already in place — adopt it, delete
    our staging. No pre-delete, so a reader of the winner never sees files
    vanish.

    ``overwrite=True`` (force-retrain semantics): delete-then-rename,
    last-wins; a concurrent reader of the old artifact can observe the
    swap — the documented force trade-off.
    """
    if overwrite:
        # the pre-delete must FAIL LOUDLY on real errors (EACCES, a file
        # where a dir is expected): with ignore_errors the subsequent
        # rename would fail against the surviving old artifact, the
        # adopt-the-winner branch would then delete OUR staging, and a
        # force-publish would silently keep the stale artifact. Only a
        # concurrent deleter's FileNotFoundError is benign.
        try:
            shutil.rmtree(final)
        except FileNotFoundError:
            pass
        try:
            os.replace(staging, final)
        except OSError:
            # adopt-the-winner is only valid if a winner actually exists: an
            # unrelated rename failure (EXDEV across mounts, EACCES) after
            # final was already deleted must re-raise — checked BEFORE the
            # staging delete so this function never destroys the only copy
            # (whether a caller keeps its staging on failure is its choice)
            if not os.path.isdir(final):
                raise
            shutil.rmtree(staging, ignore_errors=True)  # concurrent writer won
        return
    try:
        os.replace(staging, final)
    except OSError:  # first-wins: the winner's artifact is input-identical
        if not os.path.isdir(final):  # no winner ⇒ the failure was real
            raise
        shutil.rmtree(staging, ignore_errors=True)


def publish_staged(final: str, write: Callable[[str], None], overwrite: bool) -> str:
    """The ONE staging-dir publication dance every cross-process artifact
    performs around :func:`atomic_publish`: create a unique sibling staging
    dir, let ``write(staging)`` fill it, publish atomically, remove the
    staging on ANY failure. save_model / load_or_compute_metrics /
    materialize.derived_table all route through here so the
    concurrency-critical cleanup contract (staging suffix, exist_ok
    create, BaseException rm) cannot drift between copies."""
    staging = f"{final}.tmp-{uuid.uuid4().hex[:8]}"
    os.makedirs(staging, exist_ok=True)
    try:
        write(staging)
        atomic_publish(staging, final, overwrite=overwrite)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    return final


#: (realpath, tables) -> (quick signature, version). ONE entry per table
#: set — the signature lives in the VALUE (compare-and-refresh), so N
#: rewrites over a long-lived process never accumulate N dead entries.
_DATA_VERSION_MEMO: dict[tuple, tuple] = {}


def _quick_table_sig(sf_dir: str, tables: tuple[str, ...]) -> tuple:
    """Staleness probe for the memo: each table's
    :func:`~market_data_mining_project_spark.sources.tables.path_signature`
    (the path's stat plus one level of its entries), so both a wholesale
    replace and a partition-level rewrite force a full re-fingerprint. Cost
    is O(|tables| + top-level partitions) stats per call — cheap next to
    the recursive walk it guards; the walk still catches a deeper rewrite
    across processes."""
    sig = []
    for t in tables:
        try:
            sig.append((t, path_signature(os.path.join(sf_dir, f"{t}.parquet"))))
        except FileNotFoundError:
            sig.append((t, None))
    return tuple(sig)


def data_version(sf_dir: str, tables: tuple[str, ...] = ("lineitem", "orders", "part")) -> str:
    """The data version of ``tables`` under ``sf_dir`` (:func:`_walk_version`),
    memoized per table set. The memo checks a cheap per-table signature
    (:func:`_quick_table_sig`) first, so a mid-process data rewrite
    invalidates it instead of serving a stale fingerprint — a handful of
    stats per call, the full recursive walk only when the signature moves."""
    key = (os.path.realpath(sf_dir), tables)
    sig = _quick_table_sig(sf_dir, tables)
    hit = _DATA_VERSION_MEMO.get(key)
    if hit is not None and hit[0] == sig:
        return hit[1]
    v = _walk_version(sf_dir, tables)
    _DATA_VERSION_MEMO[key] = (sig, v)
    return v


def has_cached_model(name: str, version: str) -> bool:
    """The reference's ``has_cached_models`` check (ml_models.py:197-210):
    a usable artifact is a completed save — metrics sidecar present (it is
    written into the temp dir before the atomic rename, so its presence at
    the final path implies the model directory is complete)."""
    d = model_dir(name, version)
    return os.path.isfile(os.path.join(d, "metrics.json")) and os.path.isdir(
        os.path.join(d, "model")
    )


def save_model(
    model: PipelineModel,
    metrics: dict[str, float],
    name: str,
    version: str,
    overwrite: bool = False,
) -> str:
    """Persist model + metrics sidecar atomically; returns the final dir.
    First-wins by default (the data version keys the artifact, so one
    already in place is input-identical and is kept); ``overwrite=True``
    is the force-retrain path, where a newer artifact replaces it."""

    def write(staging: str) -> None:
        model.write().overwrite().save(os.path.join(staging, "model"))
        with open(os.path.join(staging, "metrics.json"), "w") as fh:
            json.dump(metrics, fh, sort_keys=True)

    return publish_staged(model_dir(name, version), write, overwrite=overwrite)


def load_model(name: str, version: str) -> tuple[PipelineModel, dict[str, float]]:
    d = model_dir(name, version)
    with open(os.path.join(d, "metrics.json")) as fh:
        metrics = json.load(fh)
    return PipelineModel.load(os.path.join(d, "model")), metrics


def load_or_compute_metrics(name: str, version: str, compute: Callable[[], dict]) -> dict:
    """A metrics-only artifact (no PipelineModel): served from
    ``metrics.json`` when the (name, version) artifact exists, else
    ``compute()``d and published. It is the cached metrics surface the
    reference's training-status API serves without refitting
    (``ml_models.py:583-594`` polled via ``views.py:3119-3127``): the
    16-cell horizon grid, whose catalog output is the metrics table itself
    (caching the JSON avoids 16 model writes nothing loads), and the IVF
    centroid table.

    The key is content-addressed, so the publish is first-wins (no
    delete-then-rename): a concurrent caller's artifact was computed from
    the same inputs and stays in place, so a reader never finds the
    directory without its ``metrics.json``."""
    d = model_dir(name, version)
    try:
        with open(os.path.join(d, "metrics.json")) as fh:
            return json.load(fh)
    except FileNotFoundError:
        pass
    payload = compute()

    def write(staging: str) -> None:
        with open(os.path.join(staging, "metrics.json"), "w") as fh:
            json.dump(payload, fh, sort_keys=True)

    publish_staged(d, write, overwrite=False)
    return payload


# SparkContext -> {(cache root, name): (artifact dir, path_signature,
# model, metrics)}: the models load_or_train read from disk. Per context
# because a loaded model's JVM objects belong to it, and weak so a stopped
# context's models go with it (the tables._SCHEMA_MEMO pattern). ONE entry
# per model name, the version's directory and signature in the VALUE, so a
# new data version replaces its predecessor instead of keeping it alive
# (the _DATA_VERSION_MEMO pattern); the signature is the staleness check,
# so a republished artifact (force=True) is loaded again.
_MODEL_MEMO: "weakref.WeakKeyDictionary[SparkContext, dict]" = weakref.WeakKeyDictionary()


def _load_memoized(name: str, version: str) -> tuple[PipelineModel, dict[str, float]]:
    """:func:`load_model` once per artifact version and SparkContext; later
    calls return the same model (a warm call starts no Spark job) and a
    copy of its metrics."""
    d = os.path.realpath(model_dir(name, version))
    sig = path_signature(d)
    memo = _MODEL_MEMO.setdefault(SparkContext._active_spark_context, {})
    key = (os.path.realpath(model_cache_root()), name)
    hit = memo.get(key)
    if hit is None or hit[:2] != (d, sig):
        hit = (d, sig, *load_model(name, version))
        memo[key] = hit
    return hit[2], dict(hit[3])


def load_or_train(
    name: str,
    version: str,
    train_fn: Callable[[], "object"],
    force: bool = False,
) -> tuple[PipelineModel, dict[str, float], bool]:
    """Serve from cache when a (name, version) artifact exists, else train
    via ``train_fn`` (returning ``pipelines.TrainedModel``) and persist.
    Returns (model, metrics, from_cache). ``force=True`` mirrors the
    reference's force_retrain flag: always refit and overwrite.

    A cache hit loads the artifact once per SparkContext (see
    :func:`_load_memoized`). A freshly trained model is not memoized, so a
    warm call serves exactly what a new process would load. The publish
    is first-wins unless forced, decided after training: a complete
    artifact that a concurrent caller published meanwhile was trained on
    the same inputs, and replacing its directory would delete files its
    model, or the memo, may be reading. Only a partial directory (a
    crashed copy) is replaced."""
    if not force and has_cached_model(name, version):
        model, metrics = _load_memoized(name, version)
        return model, metrics, True
    trained = train_fn()
    partial = os.path.isdir(model_dir(name, version)) and not has_cached_model(name, version)
    overwrite = force or partial
    save_model(trained.model, trained.metrics, name, version, overwrite=overwrite)
    return trained.model, trained.metrics, False
