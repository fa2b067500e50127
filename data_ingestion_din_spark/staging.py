"""Session-staged artifacts: the one place that decides staging.

An artifact is something many queries read and one build produces: an
entity table, a trained index, a layout written to disk, the output of
a streaming landing. It is built once per (Spark application, sf_dir,
extra key args) and served from memory afterwards. Declare one with
:func:`staged`::

    @staged("banded_pairs")
    def _banded_pairs(spark, sf_dir):  # kind="checkpoint"
        return build(...).localCheckpoint(eager=True)

    @staged("ingest_corpus", kind="dir")
    def _ingested_corpus_dir(spark, sf_dir, base):
        ...write under base...
        return os.path.join(base, "corpus")

Callers call ``_banded_pairs(spark, sf_dir)``; a ``dir`` artifact is
called without ``base``, which the decorator supplies.

The policy, owned here and nowhere else:

- **Key.** ``(applicationId, sf_dir, *extra args)``, extra args bound
  with their defaults applied, so ``f(s, d, "raw")`` and
  ``f(s, d, space="raw")`` share an entry. The applicationId is unique
  per SparkContext lifetime (``id(spark)`` is not: a stopped session's
  address can be reused).
- **Eviction.** When the application changes, every entry of the old one
  is dropped: its checkpointed blocks died with its JVM, and keeping
  the references would grow the memo across in-process restarts.
- **kind="checkpoint".** The value (a DataFrame, usually
  localCheckpointed by the build, or driver values, or a tuple of both)
  lives exactly as long as the application, so a hit is served as is.
- **kind="dir".** The build gets a fresh base directory (cleared first)
  ``$TMPDIR/spark_graft_<name>/<app>/<sf tag>`` (stale sibling
  applications' dirs removed, age-gated). After the build, every
  non-empty directory under the base is recorded; a hit re-checks each
  of them and rebuilds when any is gone or empty, so a partial deletion
  (a tmp wipe, an aggressive sibling's cleanup) costs a rebuild, not a
  FileNotFoundException mid-query.
- **Registry.** Every artifact is registered, in declaration order,
  under its name, with the setup rows ``bench.py`` prices it as: by
  default one row named after the artifact; an artifact keyed on extra
  args declares ``rows={row: args}`` (``args`` a tuple, or a list of
  tuples for a row that covers several calls). Names are unique: a
  second registration of a name raises.
"""

from __future__ import annotations

import functools
import inspect
import os
import re
import shutil
import tempfile
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import SparkSession

# A sibling dir younger than this is treated as potentially LIVE and
# never deleted: sessions here run minutes-to-hours, so 6 h of slack
# protects every concurrent bench/pytest/verify combination while still
# bounding cross-day disk growth.
STALE_AGE_SEC = 6 * 3600

KINDS = ("checkpoint", "dir")


def cleanup_stale_app_dirs(
    root: str, keep: str, max_age_sec: float = STALE_AGE_SEC
) -> None:
    """Delete per-application artifact directories under ``root`` left by
    PREVIOUS Spark applications (``keep`` is the current applicationId's
    sanitized dir name). Session-scoped staging otherwise accumulates
    unboundedly across sessions. Called on every ``dir`` build.

    Deletion is AGE-GATED: a sibling dir is removed only when its mtime
    is older than ``max_age_sec`` — a fresh dir belongs to a concurrently
    LIVE session whose in-memory staging memo still points at it, and
    deleting it would break that session for its remaining lifetime (the
    round-4 reproduced race). As a second line of defense every cache
    hit re-checks its directories and rebuilds if one vanished."""
    try:
        entries = os.listdir(root)
    except OSError:
        return
    now = time.time()
    for d in entries:
        if d == keep:
            continue
        p = os.path.join(root, d)
        try:
            if now - os.path.getmtime(p) <= max_age_sec:
                continue
        except OSError:
            continue  # raced away already
        shutil.rmtree(p, ignore_errors=True)


def _dir_ok(path: str) -> bool:
    """True when a staged directory still exists and is non-empty."""
    try:
        return bool(os.listdir(path))
    except OSError:
        return False


def app_dir_path(spark: SparkSession, sf_dir: str, root_name: str) -> str:
    """Pure path derivation for an app-scoped staged artifact —
    ``$TMPDIR/<root_name>/<sanitized app id>/<sanitized sf tag>`` — with
    NO filesystem side effects, so no caller hand-rolls a copy of the
    layout."""
    app = re.sub(r"[^A-Za-z0-9]+", "_", spark.sparkContext.applicationId)
    tag = re.sub(r"[^a-z0-9]+", "_", sf_dir.lower()).strip("_")
    return os.path.join(tempfile.gettempdir(), root_name, app, tag)


def fresh_app_dir(spark: SparkSession, sf_dir: str, root_name: str) -> str:
    """App-scoped staged-artifact base dir (:func:`app_dir_path`) with
    the staging lifecycle applied — stale sibling-app dirs under the
    root cleaned (age-gated), the base itself recreated empty."""
    base = app_dir_path(spark, sf_dir, root_name)
    app_dir = os.path.dirname(base)
    cleanup_stale_app_dirs(os.path.dirname(app_dir), os.path.basename(app_dir))
    shutil.rmtree(base, ignore_errors=True)
    return base


def _written_dirs(base: str) -> list[str]:
    """Every non-empty directory under ``base`` (itself included)."""
    return [d for d, subdirs, files in os.walk(base) if subdirs or files]


@dataclass
class Artifact:
    fn: Callable[..., Any]  # the memoized callable: fn(spark, sf_dir, *args)
    rows: dict[str, list[tuple]]  # setup row -> the arg tuples it calls
    app: str | None = None
    memo: dict[tuple, tuple[Any, list[str]]] = field(default_factory=dict)


REGISTRY: dict[str, Artifact] = {}


def staged(
    name: str,
    kind: str = "checkpoint",
    rows: dict[str, tuple | list[tuple]] | None = None,
):
    """Register the decorated build as the session-staged artifact
    ``name`` (see the module docstring for the policy). A ``dir`` build
    takes ``(spark, sf_dir, base)``; a ``checkpoint`` build takes
    ``(spark, sf_dir, *extra key args)``."""
    if kind not in KINDS:
        raise ValueError(f"staged({name!r}): kind must be one of {KINDS}")

    def deco(build):
        if name in REGISTRY:
            raise ValueError(
                f"staged artifact {name!r} registered twice "
                f"({REGISTRY[name].fn.__qualname__} and {build.__qualname__})"
            )
        params = list(inspect.signature(build).parameters.values())
        # a dir build's ``base`` is supplied here, not by callers
        call_sig = inspect.Signature(params[:2] if kind == "dir" else params)

        @functools.wraps(build)
        def get(spark: SparkSession, sf_dir: str, *args, **kwargs):
            bound = call_sig.bind(spark, sf_dir, *args, **kwargs)
            bound.apply_defaults()
            app = spark.sparkContext.applicationId
            if art.app != app:
                art.memo.clear()
                art.app = app
            key = (app, *list(bound.arguments.values())[1:])
            hit = art.memo.get(key)
            if hit is not None and all(_dir_ok(d) for d in hit[1]):
                return hit[0]
            if kind == "dir":
                base = fresh_app_dir(spark, sf_dir, f"spark_graft_{name}")
                value = build(spark, sf_dir, base)
                art.memo[key] = (value, _written_dirs(base))
            else:
                value = build(*bound.args, **bound.kwargs)
                art.memo[key] = (value, [])
            return value

        declared = rows if rows is not None else {name: ()}
        art = Artifact(
            get,
            {r: a if isinstance(a, list) else [a] for r, a in declared.items()},
        )
        REGISTRY[name] = art
        return get

    return deco


def load_all() -> dict[str, Artifact]:
    """Import every module of the package (artifacts register on import;
    some modules are otherwise imported lazily inside query functions)
    and return the registry."""
    import pkgutil

    import data_ingestion_din_spark as pkg

    for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        __import__(m.name)
    return REGISTRY


def setup_rows() -> list[tuple[str, Callable[..., Any], list[tuple]]]:
    """``(row name, fn, arg tuples)`` for every setup row of every
    registered artifact, in declaration order: the row builds (or serves)
    ``fn(spark, sf_dir, *args)`` for each arg tuple."""
    return [
        (row, art.fn, calls)
        for art in load_all().values()
        for row, calls in art.rows.items()
    ]


def reset(name: str) -> None:
    """Forget the artifact's memo; the next call rebuilds it."""
    REGISTRY[name].memo.clear()
