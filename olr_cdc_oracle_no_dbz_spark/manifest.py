"""One manifest commit for every parquet sink.

A sink root holds ``manifest.json``, the sink's only commit point: the
parquet files its readers may see, as paths relative to the root (a
copied sink stays valid), ``written`` (the directories the last commit
wrote) and what the writer records with them (``schema``, a batch id).
A commit

- appends the new files, deleting nothing; the new files are the written
  directories' listing after the write minus the listing before it, so
  a retry never takes a file of a crashed attempt for its own;
- swaps the manifest with one ``os.replace``;
- then deletes the parquet files in the directories this commit or the
  previous one wrote that neither manifest lists.

So a reader resolves one committed version, whose files outlive the next
commit, and a crash at any step leaves the old or the new version. That
is the minimal form of the Delta/Iceberg log, and the commit log of
Structured Streaming's exactly-once sinks (replayable source, idempotent
sink, one atomic commit). One writer per sink.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import types as T

MANIFEST = "manifest.json"


def write_atomic(path: str, text: str) -> None:
    """Replace ``path`` by ``text`` with one ``os.replace``: a reader
    sees the old content or the new, never a partial file. The temp file
    is a dot-file in the same directory, so the rename stays on one
    filesystem and directory readers skip it."""
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp")
    with open(tmp, "w") as fh:
        fh.write(text)
    os.replace(tmp, path)


def load(root: str, data_dir: str) -> dict:
    """The committed manifest of the sink at ``root``; before the first
    commit ``{"schema": None, "files": [], "written": []}``. Without a
    manifest, a ``data_dir`` that already holds data is refused instead
    of being read as empty: it was written without a commit log, and
    treating it as a new sink would drop everything it holds."""
    try:
        with open(os.path.join(root, MANIFEST)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        if os.path.isdir(data_dir) and any(
            not e.startswith(("_", ".")) for e in os.listdir(data_dir)
        ):
            raise RuntimeError(
                f"{data_dir} holds data files but {root} has no {MANIFEST} "
                "(written without a commit log); refusing to treat it as "
                "empty — rebuild it"
            ) from None
        return {"schema": None, "files": [], "written": []}


def listing(root: str, dirs) -> set[str]:
    """Every parquet file (and checksum sidecar) on disk in ``dirs``,
    relative to ``root``, listed by a manifest or not."""
    return {
        os.path.join(d, name)
        for d in dirs
        if os.path.isdir(os.path.join(root, d))
        for name in os.listdir(os.path.join(root, d))
        if name.removesuffix(".crc").endswith(".parquet")
    }


def read(
    spark: SparkSession,
    root: str,
    manifest: dict,
    schema: T.StructType,
    base: str,
    dirs=None,
) -> DataFrame:
    """The committed files of ``manifest`` in ``dirs`` (all when None),
    read under ``schema``; partition columns come from the paths below
    ``base`` (relative to ``root``). The scan covers those files only,
    and no schema-inference job runs."""
    files = [f for f in manifest["files"] if dirs is None or os.path.dirname(f) in dirs]
    base = os.path.normpath(os.path.join(root, base))
    reader = spark.read.schema(schema).option("basePath", base)
    return reader.parquet(*[os.path.normpath(os.path.join(root, f)) for f in files])


def observed(df: DataFrame, **aggs: Column) -> dict:
    """Run ``df`` once, as a ``noop`` write, and return the aggregates
    ``aggs`` observed over its rows: one pass that finds the directories
    a commit will write, and fills ``df``'s cache when ``df`` is
    persisted."""
    obs = Observation()
    df.observe(obs, *[agg.alias(name) for name, agg in aggs.items()]).write.format(
        "noop"
    ).mode("overwrite").save()
    return obs.get


def commit(
    root: str, previous: dict, write, written: set[str], *, replace: bool, **fields
) -> dict | None:
    """Run ``write()``, which appends parquet files in the directories
    ``written`` (relative to ``root``), and commit them on top of the
    ``previous`` manifest together with ``fields``. With ``replace`` the
    new files are the whole content of ``written``; otherwise they join
    the files already there. Returns the committed manifest, or None
    when a first write added no file (the sink stays uncreated)."""
    path = os.path.join(root, MANIFEST)
    if not os.path.exists(path):
        # an empty manifest first, so that data files left by a crash
        # before the first commit do not read as a manifest-less sink
        os.makedirs(root, exist_ok=True)
        write_atomic(path, json.dumps(previous))
    before = listing(root, written)
    write()
    new = {f for f in listing(root, written) - before if f.endswith(".parquet")}
    if not new and previous["schema"] is None:
        return None
    kept = {
        f
        for f in previous["files"]
        if not (replace and os.path.dirname(f) in written)
    }
    committed = {
        **previous,
        **fields,
        "files": sorted(new | kept),
        "written": sorted(written),
    }
    write_atomic(path, json.dumps(committed))
    live = set(previous["files"]) | new
    for f in listing(root, written | set(previous["written"])):
        # a checksum sidecar ".<file>.crc" lives and dies with <file>
        d, name = os.path.split(f)
        if os.path.join(d, name.lstrip(".").removesuffix(".crc")) not in live:
            os.remove(os.path.join(root, f))
    return committed
