"""Maintained-table lifecycle, shared by every maintained table in the
engine: the per-file (``src=``) corpus indexes (SRP/IVF/semantic in
operators/similarity.py, the cluster map in operators/dedup.py, the
inverted index, the gram chain, the quality histogram) and the
month-partitioned (``mes_dt=``) fact summaries of operators/maintained.py.

Real deployments build an index ONCE per corpus version and amortize it
over every query; only the probe sits on the serving path.  The contract
here:

- **Corpus-stamped keys** (:func:`corpus_stamp`, :func:`corpus_files`):
  a table carries the identity of the corpus files it was built from, so
  a changed corpus or a changed build algorithm invalidates instead of
  silently reusing.
- **Staged build + one publish** (:func:`staging_path`, :func:`publish`):
  builds land in a per-process staging dir; publishing retires the live
  copy aside, renames staging into place and drops the retired copy — a
  crash mid-build never leaves a directory that existence checks mistake
  for a complete table.  A concurrent builder that already landed a
  current copy wins: our equivalent staging is discarded instead.  One
  publish per table; a partition-scoped rewrite (refreshed ``src=``
  units, ``mes_dt=`` months, warehouse ``dt=`` days) is one
  :func:`publish_partitions`, which publishes each staged partition and
  drops every in-scope partition the rewrite left empty.
- **One bounded-retry read** (:func:`serve`): readers retry through a
  concurrent publish's two-rename window and fail at once on anything
  else.
- **One per-file maintenance driver** (:class:`SrcTable`): manifest read,
  staleness test, staged full build, added/changed/removed diff, orphan
  partition drop and manifest write; families supply only their frame
  builders and exactness guards.  A family whose every row is a function
  of one part file needs no guard and is one :class:`FileMap`
  declaration (SRP buckets, inverted index, quality histogram), which
  derives its path, staged build and refresh.
- **Age-gated staging sweep** (:func:`sweep_stale_staging`): abandoned
  staging dirs from crashed builds are reaped only past an age threshold —
  a live build's staging is minutes old at most.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass
from typing import Callable, NamedTuple


def index_root() -> str:
    import tempfile

    return os.environ.get(
        "SPARK_GRAFT_INDEX_DIR",
        os.path.join(tempfile.gettempdir(), "spark_graft_ann_index"),
    )


def corpus_files(sf_dir: str, table: str = "embeddings") -> dict[str, list[int]]:
    """Per-part-file identity of the corpus dataset:
    {file name: [size, mtime_ns]}.  This is the unit of incremental index
    maintenance — an append-only corpus grows by part files, and a refresh
    re-signs only the files whose identity changed since the last manifest.
    A single-file dataset is a one-entry manifest (any change to it IS a
    full-corpus change, so refresh correctly degenerates to rebuild)."""
    src = os.path.join(sf_dir, f"{table}.parquet")
    try:
        if os.path.isdir(src):
            return {
                e.name: [e.stat().st_size, e.stat().st_mtime_ns]
                for e in os.scandir(src)
                if e.is_file() and not e.name.startswith(("_", "."))
            }
        st = os.stat(src)
        return {os.path.basename(src): [st.st_size, st.st_mtime_ns]}
    except OSError:
        return {}


def corpus_file_paths(sf_dir: str, table: str, names: list[str]) -> list[str]:
    """Absolute paths of specific corpus part files (for a pruned re-read)."""
    src = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(src):
        return [os.path.join(src, n) for n in sorted(names)]
    return [src]


def corpus_rows(sf_dir: str, table: str = "embeddings") -> int:
    """Exact corpus row count from Parquet footer metadata — O(#files)
    driver-side footer reads, no Spark scan.  Serving paths that size
    structures from N (auto_bits) must not pay a full-corpus count() action
    per cold call; at 100 TB this would come from the table catalog."""
    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, f"{table}.parquet")
    files = (
        [e.path for e in os.scandir(src) if e.is_file() and e.name.endswith(".parquet")]
        if os.path.isdir(src)
        else [src]
    )
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def corpus_id_ranges(
    sf_dir: str, table: str, column: str, names: list[str] | None = None
) -> dict[str, list[int] | None]:
    """Per-part-file [min, max] of an integer id column, from Parquet
    footer column statistics — O(#files) driver-side footer reads, no
    Spark scan.  ``None`` for a file whose stats are absent/unusable
    (callers must treat that conservatively).  This is the cheap side of
    the doc-locality guard: disjoint per-file id ranges PROVE the id is
    unique across part files without touching row data."""
    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, f"{table}.parquet")
    if names is None:
        names = sorted(corpus_files(sf_dir, table))
    out: dict[str, list[int] | None] = {}
    for name in names:
        fpath = os.path.join(src, name) if os.path.isdir(src) else src
        try:
            md = pq.ParquetFile(fpath).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}[
                column
            ]
            if md.num_rows == 0:
                out[name] = [0, -1]  # empty interval: a 0-row file is vacuously safe
                continue
            lo = hi = None
            for rg in range(md.num_row_groups):
                if md.row_group(rg).num_rows == 0:
                    continue
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    lo = hi = None
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            out[name] = None if lo is None else [int(lo), int(hi)]
        except (OSError, KeyError, TypeError, ValueError):
            out[name] = None
    return out


def corpus_stamp(sf_dir: str, table: str = "embeddings") -> str:
    """Identity stamp of the corpus dataset, hashed from the per-file
    identities (:func:`corpus_files`) — a directory's own st_size/st_mtime
    don't reliably change when a part file is rewritten in place, so
    stat'ing the directory could silently reuse a stale index."""
    import hashlib

    files = corpus_files(sf_dir, table)
    if not files:
        return "na"
    return hashlib.md5(repr(sorted(files.items())).encode()).hexdigest()[:16]


_MANIFEST = "_corpus_manifest.json"


def read_manifest(path: str) -> dict | None:
    """Read an index table's corpus manifest (None = absent/unreadable).
    Shape: {"files": {name: [size, mtime_ns]}, ...extra keys per family}."""
    import json

    try:
        with open(os.path.join(path, _MANIFEST)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def write_manifest(path: str, manifest: dict) -> None:
    """Write the manifest atomically (rename) so a crash mid-write can
    never leave a truncated manifest that parses as a different corpus."""
    import json

    tmp = os.path.join(path, _MANIFEST + f".tmp{os.getpid()}")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(path, _MANIFEST))


def diff_files(
    old: dict[str, list[int]], new: dict[str, list[int]]
) -> tuple[list[str], list[str], list[str]]:
    """(added, changed, removed) part-file names between two manifests."""
    added = [n for n in new if n not in old]
    changed = [n for n in new if n in old and list(old[n]) != list(new[n])]
    removed = [n for n in old if n not in new]
    return added, changed, removed


# ---------------------------------------------------------------------------
# Manifest compaction: an append-only corpus at daily ingest grows the
# per-file manifest one row per ingested file FOREVER.  Once a file is fully
# signed into the index it almost never changes again, so old rows are
# rolled into sealed EPOCHS — each a sorted name list plus one hash over the
# members' identities.  The live ``files`` map stays bounded
# (≤ EPOCH_KEEP + one epoch of headroom); staleness and diff checks treat a
# sealed epoch as one unit: hash matches → all members unchanged (O(1) rows
# in the manifest), hash broken → every surviving member conservatively
# re-signed (O(epoch), still never O(corpus)).  Purge/RTBF rewrites of an
# old file therefore cost one epoch's re-sign instead of staying file-
# scoped — the deliberate trade for a bounded manifest.
# ---------------------------------------------------------------------------
EPOCH_KEEP = 64  # max loose per-file rows before sealing kicks in
EPOCH_SIZE = 64  # files rolled into one sealed epoch


def _epoch_hash(names: list[str], files: dict[str, list[int]]) -> str:
    import hashlib

    ident = [(n, list(files[n])) for n in sorted(names)]
    return hashlib.md5(repr(ident).encode()).hexdigest()[:16]


def compact_manifest(man: dict | None, current: dict[str, list[int]]) -> dict:
    """Build the ``{"files": ..., "epochs": ...}`` payload for ``current``:
    carry forward every sealed epoch still intact, re-loosen members of
    broken ones, then seal the oldest loose files (by mtime, then name)
    while more than EPOCH_KEEP remain.  Callers merge their extra keys on
    top.  A manifest without epochs reads/writes exactly as before."""
    epochs = []
    for e in (man or {}).get("epochs", []):
        try:
            if all(n in current for n in e["names"]) and _epoch_hash(
                e["names"], current
            ) == e.get("h"):
                epochs.append({"names": sorted(e["names"]), "h": e["h"]})
        except (TypeError, KeyError, AttributeError):
            # legacy / hand-edited epoch entry with an unexpected shape:
            # treat it as broken (members re-loosen) instead of raising out
            # of the compaction path
            continue
    covered = {n for e in epochs for n in e["names"]}
    loose = {n: list(v) for n, v in current.items() if n not in covered}
    order = sorted(  # oldest first; tolerate odd value shapes (sort last)
        loose,
        key=lambda n: (
            loose[n][1]
            if isinstance(loose[n], (list, tuple)) and len(loose[n]) > 1
            else float("inf"),
            n,
        ),
    )
    while len(loose) > EPOCH_KEEP:
        chunk = order[: min(EPOCH_SIZE, len(loose) - EPOCH_KEEP)]
        order = order[len(chunk):]
        epochs.append({"names": sorted(chunk), "h": _epoch_hash(chunk, current)})
        for n in chunk:
            del loose[n]
    # "epochs" is ALWAYS present (even empty) so ``{**man, **compacted}``
    # merges can never carry a stale epoch list forward
    return {"files": loose, "epochs": epochs}


def manifest_is_current(man: dict | None, current: dict[str, list[int]]) -> bool:
    """Epoch-aware staleness test: every sealed epoch intact AND the loose
    map exactly covers the remaining current files.  A manifest whose shape
    doesn't parse (legacy / hand-edited 'files' or 'epochs' values) is
    STALE, not an exception — same degrade-to-rebuild rule as unparseable
    JSON in :func:`read_manifest`."""
    if man is None:
        return False
    try:
        covered: set[str] = set()
        for e in man.get("epochs", []):
            if any(n not in current for n in e["names"]):
                return False
            if _epoch_hash(e["names"], current) != e.get("h"):
                return False
            covered.update(e["names"])
        loose_cur = {n: list(v) for n, v in current.items() if n not in covered}
        files = {n: list(v) for n, v in man.get("files", {}).items()}
        return files == loose_cur
    except (TypeError, KeyError, AttributeError):
        return False


def manifest_diff(
    man: dict, current: dict[str, list[int]]
) -> tuple[list[str], list[str], list[str]]:
    """Epoch-aware (added, changed, removed).  An intact epoch contributes
    nothing; a broken epoch's surviving members are conservatively
    ``changed`` (their individual old identities were compacted away) and
    its vanished members ``removed``."""
    covered: set[str] = set()
    changed_extra: list[str] = []
    removed_extra: list[str] = []
    for e in man.get("epochs", []):
        covered.update(e["names"])
        missing = [n for n in e["names"] if n not in current]
        if missing:
            removed_extra.extend(missing)
            changed_extra.extend(n for n in e["names"] if n in current)
        elif _epoch_hash(e["names"], current) != e.get("h"):
            changed_extra.extend(e["names"])
    loose_cur = {n: v for n, v in current.items() if n not in covered}
    a, c, r = diff_files(man.get("files", {}), loose_cur)
    return sorted(a), sorted(set(c) | set(changed_extra)), sorted(
        set(r) | set(removed_extra)
    )


def _partitions(root: str, col: str) -> dict[str, str]:
    """{directory name: value} of the ``col=`` partitions under ``root``.
    Values are decoded through Spark's partition-path percent-escaping:
    escapes are UTF-8 byte sequences (%C3%A9 is one 'é'), so decode with
    urllib.parse.unquote, never per-byte chr(), or multi-byte names
    mismatch; a name that is not a valid escape sequence reads verbatim."""
    from urllib.parse import unquote

    try:
        entries = list(os.scandir(root))
    except OSError:
        return {}
    out = {}
    for e in entries:
        if e.is_dir() and e.name.startswith(f"{col}="):
            raw = e.name[len(col) + 1:]
            try:
                out[e.name] = unquote(raw, errors="strict")
            except UnicodeDecodeError:
                out[e.name] = raw
    return out


def publish_partitions(staging: str, live: str, col: str, scope=()) -> None:
    """Swap a partition-scoped rewrite into the live table: every ``col=``
    partition staged under ``staging`` is published over its live twin
    (:func:`publish`), and the live partition of every value in ``scope``
    that staging does not hold is dropped — a unit the rewrite covered but
    whose new output is empty (an RTBF purge, a re-landed day whose rows
    all fail to parse) must stop serving its old rows.  Other live
    partitions are untouched.

    Every unit is attempted; if any publish failed, :class:`OSError` is
    raised at the end and that partition keeps its old copy where
    :func:`publish` could restore it.  Staging is removed unless it holds
    a partition's only copy.  Local filesystem only, like :func:`publish`:
    a ``://`` path raises :class:`ValueError`."""
    if "://" in staging or "://" in live:
        raise ValueError(f"publish_partitions is local-only: {staging} -> {live}")
    staged = _partitions(staging, col)
    if staged:
        os.makedirs(live, exist_ok=True)
    failed, keep = [], False
    for name in sorted(staged):
        try:
            publish(os.path.join(staging, name), os.path.join(live, name))
        except OSError:
            failed.append(name)
            keep = keep or not os.path.exists(os.path.join(live, name))
    gone = set(scope) - set(staged.values())
    for name, value in _partitions(live, col).items():
        if value in gone:
            shutil.rmtree(os.path.join(live, name), ignore_errors=True)
    if not keep:
        shutil.rmtree(staging, ignore_errors=True)
    if failed:
        raise OSError(f"{live}: failed to publish {failed}")


def compact_src_partitions(
    spark,
    component_root: str,
    target_files: int = 1,
    sort_cols: tuple[str, ...] = (),
) -> dict[str, int]:
    """Small-file compaction for ``src=``-partitioned index components:
    rewrite every partition holding more than ``target_files`` parquet
    files down to ``target_files`` (the refresh path writes up to 4 files
    per touched partition — sources/sinks.write_sorted_partitioned — so a
    long ingest chain accumulates ~4 files per corpus part file per
    component; the r10 steady-state probe measured ~15 files/ingest across
    the corpus-index fleet).  Run it on an operator's cadence (e.g. every
    K ingests); returns {partition name: files before} for what was
    rewritten.

    The corpus manifest tracks CORPUS files, not index files, so
    compaction is invisible to staleness and needs no re-stamp.  The
    over-full partitions are staged OUTSIDE the component root (a sibling
    dir), so partition discovery on the live root never sees half-written
    copies, then committed by one :func:`publish_partitions`.  Same
    SINGLE-MAINTAINER assumption as :meth:`SrcTable.refresh`.  Rows are
    re-sorted on ``sort_cols`` so the compacted file keeps the range-
    sorted layout (footer min/max stay selective)."""
    out: dict[str, int] = {}
    stage_root = component_root.rstrip("/") + f".__compactstage__{os.getpid()}"
    for name in _partitions(component_root, SRC):
        part = os.path.join(component_root, name)
        try:
            n = sum(1 for f in os.listdir(part) if f.endswith(".parquet"))
        except OSError:
            continue
        if n <= target_files:
            continue
        df = spark.read.parquet(part).coalesce(target_files)
        if sort_cols:
            df = df.sortWithinPartitions(*sort_cols)
        df.write.mode("overwrite").parquet(os.path.join(stage_root, name))
        out[name] = n
    publish_partitions(stage_root, component_root, SRC)
    return out


def index_path(kind: str, key: str) -> str:
    """Deterministic index directory for (kind, logical key)."""
    import hashlib

    return os.path.join(
        index_root(), f"{kind}_{hashlib.md5(key.encode()).hexdigest()[:16]}"
    )


def staging_path(path: str) -> str:
    """Per-process unique staging dir: concurrent builders (bench + tests)
    must never write into each other's staging."""
    import uuid

    return f"{path}.__build__{os.getpid()}_{uuid.uuid4().hex[:8]}"


def sweep_stale_staging(max_age_sec: float = 3600.0) -> None:
    """Reap staging dirs abandoned by crashed builds.  A live build's
    staging is at most minutes old, so anything past ``max_age_sec`` is a
    leak; the rename-race loser already cleans its own copy up."""
    root = index_root()
    try:
        entries = list(os.scandir(root))
    except OSError:
        return
    cutoff = time.time() - max_age_sec
    for e in entries:
        if ".__build__" in e.name and e.is_dir():
            try:
                if e.stat().st_mtime < cutoff:
                    shutil.rmtree(e.path, ignore_errors=True)
            except OSError:
                pass


def promote(staging: str, path: str) -> None:
    """Commit a staged index build by rename: a crash leaves the staging
    copy or the promoted one, never a half-written table.  The destination
    is NEVER deleted: it can only exist via a completed atomic rename, so
    an existing destination means a concurrent builder won the race over
    the same corpus — deleting it would open a window where a reader finds
    no index at all.  The loser just discards its (equivalent) staging
    copy."""
    if os.path.exists(path):  # lost the race — keep the live index untouched
        shutil.rmtree(staging, ignore_errors=True)
        return
    try:
        os.rename(staging, path)
    except OSError:
        if os.path.exists(path):  # another builder promoted between check & rename
            shutil.rmtree(staging, ignore_errors=True)
        else:
            raise


def publish(
    staging: str, path: str, is_current: Callable[[], bool] | None = None
) -> None:
    """Replace the live table at ``path`` with the fully-built ``staging``
    copy: rename the live directory aside, rename staging into place, drop
    the aside copy.

    ``is_current`` re-checks the live copy immediately BEFORE retiring it:
    when a concurrent builder already landed a current, complete copy,
    retiring it would pull files out from under its readers' in-flight
    scans and buy nothing, so our equivalent staging is discarded instead.
    ``None`` always replaces — for staging DERIVED from the live copy (a
    merge, a refreshed month), where keeping the live copy would drop the
    change.  The retire rename must not assume it wins: a concurrent
    retirer may have moved the live copy first, and we fall through to
    :func:`promote`, which discards our copy if the winner's is live.  A
    promote that fails for any other reason renames the retired copy back
    before the error propagates: a failed publish leaves the old table,
    never no table."""
    if is_current is not None and os.path.exists(path) and is_current():
        shutil.rmtree(staging, ignore_errors=True)
        return
    tomb = staging.rstrip("/") + ".stale"
    try:
        os.rename(path, tomb)
    except OSError:
        tomb = None  # nothing live, or a concurrent retire won
    try:
        promote(staging, path)
    except OSError:
        if tomb is not None:
            try:
                os.rename(tomb, path)
            except OSError:
                if os.path.exists(path):  # a winner landed meanwhile
                    shutil.rmtree(tomb, ignore_errors=True)
                # else: the tomb holds the only copy — leave it on disk
        raise
    if tomb is not None:
        shutil.rmtree(tomb, ignore_errors=True)


def _holds_no_data(path: str) -> bool:
    """A directory with no entry Spark would read (``_``/``.``-prefixed
    names are hidden: _SUCCESS, checksums) — neither data files nor
    partition directories."""
    try:
        return not any(
            not e.name.startswith(("_", ".")) for e in os.scandir(path)
        )
    except OSError:
        return False


def serve(spark, path: str, component: str = "", empty_schema: str | None = None):
    """Read ``path``/``component`` through a concurrent :func:`publish`:
    while the table root is absent (the two renames between retire and
    promote take microseconds) the read is retried, bounded; once the root
    exists, a failing read raises at once.  With ``empty_schema``, a
    component that holds no data (every ``src=`` partition dropped, e.g.
    an RTBF purge of the whole corpus) serves a typed empty frame — judged
    by the absence of any visible entry, so a populated table whose read
    fails (corrupt file, crashed-overwrite leftovers) still raises."""
    target = os.path.join(path, component) if component else path
    for _ in range(100):
        try:
            return spark.read.parquet(target)
        except Exception:
            if os.path.exists(path):
                if empty_schema is not None and _holds_no_data(target):
                    return spark.createDataFrame([], empty_schema)
                raise
            time.sleep(0.05)
    raise FileNotFoundError(target)


SRC = "src"  # partition column of the per-file tables: corpus part-file basename


def with_src(df):
    """Tag each row with the basename of the corpus part file it came from
    — evaluated at the scan, before any exchange, so it survives every
    repartition downstream."""
    from pyspark.sql import functions as F

    return df.withColumn(SRC, F.element_at(F.split(F.input_file_name(), "/"), -1))


class Diff(NamedTuple):
    """The corpus part files against a table's manifest."""

    files: dict[str, list[int]]
    added: list[str]
    changed: list[str]
    removed: list[str]

    @property
    def stale(self) -> list[str]:
        return sorted(self.added + self.changed)


class SrcTable:
    """The per-file maintenance driver: one maintained table whose
    components are ``src=``-partitioned over the part files of corpus
    table ``table`` at ``sf_dir`` — a part file is the refresh unit.

    ``parts`` maps each partitioned component (``""`` = the table root) to
    its layout: (sort columns, files per partition) — range-sorted so
    footer min/max stats keep pruning probes.  ``flat`` names the
    unpartitioned components (codebooks, rollups) the family writes
    itself.  The driver owns the manifest (read, staleness, diff, write),
    the staged full build and its publish, and the orphan-partition drop;
    a family supplies its frame builders and its exactness guards."""

    def __init__(
        self,
        path: str,
        sf_dir: str,
        table: str,
        parts: dict[str, tuple[tuple[str, ...], int]],
        flat: tuple[str, ...] = (),
    ):
        self.path, self.sf_dir, self.table = path, sf_dir, table
        self.parts, self.flat = parts, flat

    def files(self) -> dict[str, list[int]]:
        return corpus_files(self.sf_dir, self.table)

    def file_paths(self, names: list[str]) -> list[str]:
        return corpus_file_paths(self.sf_dir, self.table, names)

    def _complete(self) -> bool:
        return all(
            os.path.exists(os.path.join(self.path, c))
            for c in (*self.parts, *self.flat)
        )

    def is_current(self, files: dict[str, list[int]]) -> bool:
        return manifest_is_current(read_manifest(self.path), files) and self._complete()

    def write(self, root: str, component: str, frame, srcs=None) -> None:
        """Write ``frame`` (carrying ``src``) as ``component`` under
        ``root``.  ``srcs=None`` is a full build (static overwrite);
        otherwise the write refreshes exactly the ``srcs`` units: staged,
        then swapped in by :func:`publish_partitions`, which also drops
        the partition of every unit the frame holds no row for (an RTBF
        rewrite that purged them all)."""
        from olap_sus_spark.sources.sinks import write_sorted_partitioned

        sort, n_files = self.parts[component]
        dest = os.path.join(root, component) if component else root
        if srcs is None:
            write_sorted_partitioned(frame, dest, SRC, list(sort), files=n_files)
            return
        staging = staging_path(dest)
        write_sorted_partitioned(frame, staging, SRC, list(sort), files=n_files)
        publish_partitions(staging, dest, SRC, scope=srcs)

    def compact(self, spark, target_files: int = 1) -> dict[str, dict[str, int]]:
        """Small-file compaction of every partitioned component that exists
        (:func:`compact_src_partitions`, each re-sorted on its declared
        sort key).  Returns {component: {partition: files before}} for what
        was rewritten."""
        out = {}
        for component, (sort, _) in self.parts.items():
            root = os.path.join(self.path, component) if component else self.path
            done = compact_src_partitions(spark, root, target_files, sort)
            if done:
                out[component] = done
        return out

    def load_or_build(self, build: Callable[[str], dict | None]) -> None:
        """Full staged build when the manifest is stale or a component is
        missing: ``build(staging)`` writes every component under
        ``staging`` and returns the family's extra manifest keys; the
        manifest lands in staging, then :func:`publish` swaps it in."""
        files = self.files()
        man = read_manifest(self.path)
        if manifest_is_current(man, files) and self._complete():
            return
        sweep_stale_staging()
        os.makedirs(index_root(), exist_ok=True)
        staging = staging_path(self.path)
        extra = build(staging) or {}
        write_manifest(staging, {**compact_manifest(man, files), **extra})
        publish(staging, self.path, lambda: self.is_current(files))

    def refresh(
        self,
        step: Callable[[dict, Diff], dict | None],
        rebuild: Callable[[], object],
    ) -> None:
        """Incremental maintenance: ``step(manifest, diff)`` rewrites the
        stale units in place (through :meth:`write`) and returns the extra
        manifest keys, or ``None`` when its exactness guard cannot prove
        the refresh equal to a rebuild — then ``rebuild()`` runs the full
        staged build.  A never-built or incomplete table rebuilds too.
        Removed part files' partitions are dropped, then the manifest is
        stamped current.  SINGLE REFRESHER per table: each partition swap
        is safe, but the manifest write is not merged, so a second
        refresher could stamp a manifest over the other's units."""
        man = read_manifest(self.path)
        if man is None or not self._complete():
            rebuild()
            return
        files = self.files()
        d = Diff(files, *manifest_diff(man, files))
        if not (d.added or d.changed or d.removed):
            return
        extra = step(man, d)
        if extra is None:
            rebuild()
            return
        for c in self.parts:  # an empty rewrite of the removed units drops them
            root = os.path.join(self.path, c)
            publish_partitions(staging_path(root), root, SRC, scope=d.removed)
        write_manifest(self.path, {**man, **compact_manifest(man, files), **extra})


@dataclass(frozen=True)
class FileMap:
    """One per-file map index, declared once: every component row is a
    function of ONE corpus part file, so the full build and every refresh
    are the same ``frames`` over different files, and a refresh equals a
    fresh build with no exactness guard.

    ``frames(docs)`` maps ``src``-tagged rows of corpus table ``source``
    to ``{component: frame}`` for the components ``parts`` declares (see
    :class:`SrcTable`).  The path is keyed by ``kind``, the algorithm
    ``version``, the corpus LOCATION (absolute, so a relative and an
    absolute spelling of one corpus share one table) and the build
    ``params``; the declaration derives the table, its staged full build
    and its refresh.  Each frame is unpersisted once written, so a
    ``frames`` that persists a compute-heavy pass (the range
    partitioner's sampling job would run it twice) needs no cleanup."""

    kind: str
    version: str
    source: str
    parts: dict[str, tuple[tuple[str, ...], int]]
    frames: Callable[[object], dict]
    params: str = ""

    def path(self, sf_dir: str) -> str:
        return index_path(
            self.kind, f"{self.version}|{os.path.abspath(sf_dir)}{self.params}"
        )

    def table(self, sf_dir: str) -> SrcTable:
        return SrcTable(self.path(sf_dir), sf_dir, self.source, self.parts)

    def _write(self, t: SrcTable, root: str, docs, srcs=None) -> None:
        for component, frame in self.frames(with_src(docs)).items():
            t.write(root, component, frame, srcs)
            frame.unpersist()

    def load_or_build(self, spark, sf_dir: str) -> str:
        """Build the whole table when absent or stale (staged, then
        published); returns its path."""
        from olap_sus_spark.catalog import load_table

        t = self.table(sf_dir)
        t.load_or_build(
            lambda staging: self._write(
                t, staging, load_table(spark, sf_dir, self.source)
            )
        )
        return t.path

    def refresh(self, spark, sf_dir: str) -> str:
        """Rewrite the partitions of the added and changed part files and
        drop those of removed ones — O(changed files), and no corpus read
        when nothing was added or changed.  Never built: the full build.
        Returns the table's path."""
        t = self.table(sf_dir)

        def rewrite(man: dict, d: Diff) -> dict:
            if d.stale:
                docs = spark.read.parquet(*t.file_paths(d.stale))
                self._write(t, t.path, docs, d.stale)
            return {}

        t.refresh(rewrite, lambda: self.load_or_build(spark, sf_dir))
        return t.path
