"""User-facing facade: the reference's flagship endpoint as one
engine call.

The reference's ``POST /api/v1/hackrx/run`` (ref: src/main.py:48-192)
takes (documents, questions) and returns, per question: the top
context chunks, a templated summary, and the search method — vector
search when the index path works, keyword fallback otherwise — plus
per-document processing stats. ``run_query`` is that contract on
Spark:

    answers = run_query(spark, sf_dir, questions)   # one DataFrame

- **vector path**: deterministic hashing embedder → broadcast cosine
  top-k (ref stages 4-6);
- **keyword path**: broadcast cross-score → window top-k (ref
  :134-157) — selected per call like the reference's exception
  fallback, but as a first-class strategy flag rather than a
  try/except;
- **answer assembly**: top chunk summary template + doc stats agg
  (ref :100-127, 176-186).

Everything is lazy DataFrames end-to-end: the two strategies are the
same plan shape with a different scoring expression, and the result
schema is the one authoritative answer schema (the reference's
declared response model drifts from what it actually returns —
SURVEY §1.1 note).

A request runs no Python: the question batch is a JVM-local inline
relation (``sources.tables.local_rows``), and the stored index is
read with a schema memoized on file identity
(``sources.tables.read_parquet``), so the plan is JVM-only and pays
no per-request schema-inference job."""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import register
from .sources.tables import cluster_by_dirs, load, local_rows, read_parquet, spread
from .sources.tmputil import dir_tag, session_key, tmp_path
from .functions.embed import dot, embed_df, embed_pandas
from .operators.questions import GOLDEN_QUESTIONS, QUESTIONS_DDL, SNIPPET_LEN, TOP_K

_VECTOR_INDEX_READY: set[tuple] = set()

#: Every artifact path a live builder memo hands out this process —
#: each ensure_* builder registers its returned paths here on every
#: call (r15 review: gc_index_versions used to RE-DERIVE these by
#: duplicating the builders' tmp_path leaf names inline, so renaming
#: a leaf would silently break gc's live protection for that
#: builder). gc consults this one set; deleting a member would turn a
#: later memo hit into a dangling read.
_LIVE_ARTIFACT_PATHS: set[str] = set()


def ensure_vector_index(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the document vector index ONCE per (session,
    sf_dir) and return its Parquet path: (doc_id, snippet, dv) with
    the deterministic embedder's vectors and the reference's
    truncated-content metadata (ref: vectorizer.py:60-72 — index
    payload carries content truncated to a snippet).

    This is the engine form of the reference's build-then-query index
    lifecycle (Pinecone upsert, ref: pinecone_manager.py:61-103): a
    query must probe the STORED index, not re-embed the corpus per
    question batch — at 100 TB re-embedding 5 B document vectors per
    query is the difference between a seconds-scale probe and a
    full-corpus pass. Kept fresh incrementally by the anti-join
    delta pattern (q_incremental_index, sources/sinks.py) + the
    last-writer-wins upsert (upsert_parquet).

    The build embeds via the Arrow path (functions/embed.embed_pandas
    — bit-identical to the SQL fold, measured 19× faster at the B1
    workload and stable under suite-long JVM profiles; see its
    docstring). Probes never notice: they scan the stored Parquet."""
    tag = dir_tag(sf_dir)
    path = tmp_path("vector_index", tag)
    key = session_key(spark, sf_dir)
    if key not in _VECTOR_INDEX_READY:
        # Snippet is computed BEFORE the embed so the full text never
        # rides the Arrow return leg (embed_pandas keep-pruning).
        docs = spread(
            load(spark, sf_dir, "documents").select(
                "doc_id",
                F.substring("text", 1, SNIPPET_LEN).alias("snippet"),
                "text",
            )
        )
        idx = embed_pandas(
            docs, "text", out_col="dv", keep=["doc_id", "snippet"]
        )
        idx.write.mode("overwrite").parquet(path)
        _VECTOR_INDEX_READY.add(key)
    _LIVE_ARTIFACT_PATHS.add(path)
    return path


_VECTOR_LSH_READY: set[tuple] = set()


def ensure_vector_index_lsh(spark: SparkSession, sf_dir: str) -> str:
    """Sign-LSH-bucketed projection of the stored vector index: one
    row per (doc, hash table) with that table's 4-bit bucket id,
    written ``partitionBy(tbl, bucket)`` — 48 directories at the
    default 3-table × 4-plane config (operators/similarity.PLANES),
    so a probe's bucket equi-join touches only the probed directories
    instead of the full index. The document-corpus form of the
    q_ann_lsh tier's stored layout; built ONCE per (session, sf_dir)
    from the plain stored index — a projection, never a re-embed.

    At 100 TB this is how an ANN candidate pool is served: the probe
    side is |questions|·N_TABLES bucket keys (broadcast), the read is
    N_TABLES bucket partitions per question (~N/2^planes vectors
    each), and everything downstream (exact re-rank, MMR) works on
    that bounded candidate set. Index size is N_TABLES× the plain
    index — the standard LSH storage/recall trade."""
    from .operators.similarity import N_PLANES, N_TABLES, _bucket_expr

    tag = dir_tag(sf_dir)
    path = tmp_path("vector_index_lsh", tag)
    key = session_key(spark, sf_dir)
    if key not in _VECTOR_LSH_READY:
        idx = spark.read.parquet(ensure_vector_index(spark, sf_dir))
        buckets = F.array(
            *[_bucket_expr(F.col("dv"), t) for t in range(N_TABLES)]
        )
        (
            # Cluster rows by their target directory before the
            # partitioned write: without this every task writes a
            # sliver into every (tbl, bucket) dir — cores×48 tiny
            # files whose per-file open cost dominates later probes.
            # Explicit tables×2^planes count so the write
            # parallelizes (cluster_by_dirs).
            cluster_by_dirs(
                idx.select(
                    "doc_id",
                    "dv",
                    F.posexplode(buckets).alias("tbl", "bucket"),
                ),
                N_TABLES * 2**N_PLANES,
                "tbl",
                "bucket",
            )
            .write.mode("overwrite")
            .partitionBy("tbl", "bucket")
            .parquet(path)
        )
        _VECTOR_LSH_READY.add(key)
    _LIVE_ARTIFACT_PATHS.add(path)
    return path


_VECTOR_IVF_READY: set[tuple] = set()

#: IVF geometry for the documents corpus. 16 cells at the demo scale
#: keeps cells big enough that a 20-candidate pool survives nprobe=5
#: at sf0.001 while the probe still prunes ~11/16 of the index; at
#: 100 TB both knobs grow with the corpus (cells ~ sqrt(N), nprobe by
#: the recall bar) without changing any plan shape below.
#: ``ivf_cells_for`` is the production sizing rule; the fixed
#: IVF_CELLS stays the floor (and the geometry of the r11-vintage
#: registered queries, which pin their results to it).
IVF_CELLS = 16
IVF_NPROBE = 5

#: Curve-calibrated probe depth for the SCALED serving geometry (r12
#: verdict #2): the measured nprobe curve (tools/ivf_nprobe_curve.py,
#: SCALE.md) at the sf0.1 geometry (71 cells) gives pool recall@20 =
#: 0.555/0.695/0.82/0.90 at nprobe 5/8/12/16 — so nprobe=16 is the
#: first point meeting the 0.90 recall bar, at a 22.5% read that
#: DOMINATES the fixed 16-cell layout's 0.87 recall at a 31% read.
#: nprobe is the recall knob (tuned against the product's recall bar
#: by re-running the curve per corpus); cells = ivf_cells_for(N) is
#: the read-bound knob — at 5B vectors the same nprobe=16 probes
#: 16/70711 ≈ 0.02% of the index while per-cell reads stay ~sqrt(N).
IVF_NPROBE_SCALED = 16


def ivf_cells_for(n_vectors: int) -> int:
    """Corpus-adaptive IVF cell count: ``max(IVF_CELLS, ceil(sqrt(N)))``
    (r11 verdict #3 — a fixed 16 cells means the nprobe=5 probe reads
    ~31% of the index forever; production IVF sizes cells ~ sqrt(N) so
    the probe FRACTION falls as the corpus grows: nprobe/sqrt(N) —
    at N=500 that is 5/23 ≈ 22%, at N=5000 5/71 ≈ 7%, at 5B vectors
    5/70711 ≈ 0.007%, while expected cell population sqrt(N) keeps
    per-cell reads bounded). The same rule is written INTO the scaled
    oracle as ``greatest(16, ceil(sqrt(count(*))))`` via DuckDB's
    expression LIMIT, so both engines derive the cell count from the
    corpus rather than trusting a shared constant. ceil(sqrt()) is
    exact cross-engine: counts are exact ints, IEEE sqrt of a perfect
    square is exact, and ceil of a non-square's sqrt is unambiguous."""
    import math

    return max(IVF_CELLS, math.ceil(math.sqrt(n_vectors)))


#: Retrain-trigger factor for the corpus-adaptive IVF layouts (r13
#: verdict #3): appends hold centroids fixed, so as the corpus grows
#: the sizing rule ivf_cells_for(N_now) drifts away from the trained
#: cell count — per-cell population grows ∝ N/cells and probe cost
#: with it. 1.5× means a retrain roughly every 2.25× corpus growth
#: (cells ~ √N), i.e. O(log N) rebuilds over any growth curve, each
#: a full partitionBy rewrite the builder already implements.
#: Shrink drift (mass deletes) triggers at the reciprocal.
IVF_RETRAIN_FACTOR = 1.5


def ivf_retrain_due(trained_cells: int, n_vectors_now: int) -> bool:
    """The scheduled-rebuild half of the IVF lifecycle, as a CHEAP
    count + constant compare (no vector reads): True when the sizing
    rule's answer for the corpus as it stands now deviates from the
    trained geometry by ≥ IVF_RETRAIN_FACTOR in either direction.
    A maintenance job runs ``ivf_retrain_due(cells, index.count())``
    per batch — one bounded metadata aggregate — and on True rebuilds
    via ensure_vector_index_ivf_scaled under the new cells tag (the
    two geometries coexist; serving flips when the rewrite commits,
    the same blue/green swap the reference delegates to Pinecone's
    index create/connect lifecycle, ref:
    src/services/vector_engine/pinecone_manager.py:19-59). Appends
    between triggers go through operators/pipeline.incremental_ivf.
    Pinned in tests/test_layout.py (boundary cases + the freshly
    trained layout reporting not-due)."""
    ratio = ivf_cells_for(n_vectors_now) / float(trained_cells)
    return ratio >= IVF_RETRAIN_FACTOR or ratio <= 1.0 / IVF_RETRAIN_FACTOR


def _manifest_dir(sf_dir: str, profile: str = "default") -> str:
    """Directory of one serving manifest. ``profile`` namespaces
    independent pointers over the same corpus (the registered
    published-serving row keeps its own profile so test publishes of
    doctored layouts can never perturb the driver-checked row, and
    vice versa) — the same role a catalog namespace plays for two
    tables built from one source."""
    if profile == "default":
        return tmp_path("ivf_serving_manifest", dir_tag(sf_dir))
    return tmp_path(f"ivf_serving_manifest__{profile}", dir_tag(sf_dir))


#: Serializes in-process publishers across ALL manifest dirs (r14
#: ADVICE: two concurrent publishers could read one filename
#: high-water and collide). One module-wide lock, not per-dir: a
#: publish holds it for two tiny JSON writes, so granularity cannot
#: matter, and per-dir lock registries leak.
_PUBLISH_LOCK = threading.Lock()


def publish_index_version(
    spark: SparkSession,
    sf_dir: str,
    layout_path: str,
    cents_path: str,
    cells: int,
    profile: str = "default",
) -> int:
    """The blue/green swap itself (r14 — ivf_retrain_due's docstring
    promised it; this is the mechanism): point the serving manifest at
    a new (layout, centroids, cells) triple ATOMICALLY. The manifest
    is one tiny JSON file named CURRENT; the flip is write-temp +
    os.replace — atomic on POSIX, so a reader resolves either the old
    version or the new one, never a torn state, and the old layout's
    files are untouched. Returns the new version number.

    Every publish ALSO appends an immutable ``v{N}.json`` snapshot of
    the triple next to CURRENT — the metadata log (Iceberg's
    metadata.json sequence is this exact file-per-version shape). The
    log is what makes rollback a mechanism instead of a memory
    (rollback_index_version republishes the predecessor's triple
    without the caller holding it) and gives retention something to
    prune against (gc_index_versions deletes layouts referenced ONLY
    by pruned log entries — CURRENT's files are unreachable to it by
    construction).

    Cluster form: on an object store the rename becomes the catalog's
    conditional put / metastore CAS — same one-pointer protocol every
    table format (Iceberg/Delta) ships. Concurrent publishers are
    serialized two ways (r14 ADVICE — two in-process publishers could
    both read one high-water and overwrite each other's v{N}.json,
    breaking the log's immutability): a module lock serializes
    in-process publishers, and the log slot itself is CLAIMED with
    O_CREAT|O_EXCL — a cross-process collision re-derives the version
    instead of silently replacing an existing entry. CURRENT remains
    last-writer-wins across processes, which the maintenance
    singleton owns.

    Pinned in tests/test_layout.py: publish→resolve round-trips,
    versions increment, a second publish flips the pointer without
    touching the first layout, re-publishing the old triple rolls
    back, concurrent same-process publishers mint distinct immutable
    log entries, and the log/rollback/GC trio has its own pins."""
    import json
    import re

    mdir = _manifest_dir(sf_dir, profile)
    os.makedirs(mdir, exist_ok=True)
    cur = os.path.join(mdir, "CURRENT")
    with _PUBLISH_LOCK:
        prev = current_index_version(spark, sf_dir, profile=profile)
        # Next version = 1 + max(pointer, log): robust to a pointer
        # that was rolled back below the log's high-water mark —
        # version numbers must never be reused or the log entries stop
        # being immutable. The log's high-water comes from the
        # FILENAMES alone (r14 review: parsing every v{N}.json made N
        # publishes O(N²) JSON loads; the number is already in the
        # name).
        high = prev["version"] if prev else 0
        for name in os.listdir(mdir):
            m = re.fullmatch(r"v(\d+)\.json", name)
            if m:
                high = max(high, int(m.group(1)))
        # Claim the log slot with O_EXCL (zero-byte placeholder): a
        # concurrent PROCESS that claimed this number first surfaces
        # as FileExistsError and we take the next slot — never an
        # os.replace over someone else's immutable entry. readers
        # (list_index_versions) skip zero-byte in-flight claims.
        while True:
            version = high + 1
            vfile = os.path.join(mdir, f"v{version}.json")
            try:
                os.close(os.open(vfile, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
                break
            except FileExistsError:
                high = version
        payload = {
            "version": version,
            "layout": layout_path,
            "centroids": cents_path,
            "cells": int(cells),
        }
        # Log entry first, pointer second: a crash between the two
        # leaves an orphan log entry (harmless; the next publish
        # numbers past it), never a CURRENT pointing at an unlogged
        # triple. The content lands via temp + os.replace onto our own
        # claimed slot, so a reader sees empty-claim or full entry,
        # never a torn write.
        tmp = os.path.join(mdir, f".v.tmp.{os.getpid()}.{version}")
        with open(tmp, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, vfile)
        tmp = os.path.join(mdir, f".CURRENT.tmp.{os.getpid()}.{version}")
        with open(tmp, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, cur)
    return version


def current_index_version(
    spark: SparkSession, sf_dir: str, profile: str = "default"
) -> dict | None:
    """Resolve the serving manifest: the (version, layout, centroids,
    cells) a prober should use, or None before the first publish. One
    tiny driver-side read — the same cost class as the K-row centroid
    collect every probe already pays."""
    import json

    cur = os.path.join(_manifest_dir(sf_dir, profile), "CURRENT")
    if not os.path.exists(cur):
        return None
    with open(cur) as f:
        return json.load(f)


def list_index_versions(
    spark: SparkSession, sf_dir: str, profile: str = "default"
) -> list[dict]:
    """The manifest's version log, sorted ascending: one dict per
    ``v{N}.json`` snapshot publish_index_version wrote. Bounded by
    retention (gc_index_versions prunes old entries), so this is a
    metadata listing, never a data scan."""
    import json
    import re

    mdir = _manifest_dir(sf_dir, profile)
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in os.listdir(mdir):
        m = re.fullmatch(r"v(\d+)\.json", name)
        if not m:
            continue
        p = os.path.join(mdir, name)
        # A zero-byte entry is a concurrent publisher's O_EXCL slot
        # claim whose content hasn't landed yet (publish_index_version)
        # — not-yet-published, so not listed. Anything else unreadable
        # is real corruption and propagates.
        if os.path.getsize(p) == 0:
            continue
        with open(p) as f:
            out.append(json.load(f))
    return sorted(out, key=lambda e: e["version"])


def rollback_index_version(
    spark: SparkSession, sf_dir: str, profile: str = "default"
) -> dict | None:
    """Roll serving back one step: republish the log entry preceding
    CURRENT's version as a NEW forward version (versions never move
    backwards — the pointer flips, the log only grows, exactly
    Iceberg's rollback-as-new-snapshot). Returns the new CURRENT, or
    None when there is nothing to roll back to (no pointer, or no
    earlier log entry). The caller no longer needs to remember the
    old triple — the log does."""
    cur = current_index_version(spark, sf_dir, profile=profile)
    if cur is None:
        return None
    older = [
        e
        for e in list_index_versions(spark, sf_dir, profile=profile)
        if e["version"] < cur["version"]
    ]
    if not older:
        return None
    target = older[-1]
    publish_index_version(
        spark,
        sf_dir,
        target["layout"],
        target["centroids"],
        target["cells"],
        profile=profile,
    )
    return current_index_version(spark, sf_dir, profile=profile)


def gc_index_versions(
    spark: SparkSession,
    sf_dir: str,
    keep_last: int = 2,
    profile: str = "default",
) -> dict:
    """Retention for superseded index layouts — the 'prune later' the
    publish docstring deferred, now a mechanism (Iceberg's
    expire_snapshots analog). Keeps the newest ``keep_last`` log
    entries plus whatever CURRENT references; prunes older log
    entries and deletes layout/centroid directories that only pruned
    entries reference. Three hard safety rails, each pinned in
    tests/test_layout.py:

    - every pointer's paths are unconditionally protected — this
      profile's CURRENT (whatever its version number: a rolled-back
      pointer may be OLDER than the kept window) AND every other
      manifest's CURRENT and log entries under the artifact root
      (r14 review: two profiles can publish the same layout path;
      one profile's retention must never break another's reader);
    - only paths under this process's artifact root are ever deleted
      (the production analog: retention owns its table prefix and
      nothing else) — out-of-root paths are reported, not removed,
      and their log entries RETAINED so a later run can still see
      them;
    - paths a live builder memo still hands out are skipped (a
      session that re-asks ensure_vector_index_ivf_scaled must not
      get a dangling path back), reported as skipped_live, their
      log entries retained.

    Returns {kept_versions, pruned_versions, removed_paths,
    skipped_paths, skipped_live} for the maintenance log;
    pruned_versions lists only entries whose log file was actually
    removed. When any FOREIGN manifest file fails to read, the pass
    degrades to protect-all — nothing deleted or pruned, the failure
    reported as unreadable_foreign (r14 ADVICE: a transiently
    unreadable foreign CURRENT must not lose its reference).
    Idempotent: a second run with the same arguments removes
    nothing."""
    import shutil

    from .sources.tmputil import ROOT

    log = list_index_versions(spark, sf_dir, profile=profile)
    cur = current_index_version(spark, sf_dir, profile=profile)
    keep_last = max(1, int(keep_last))
    kept = log[-keep_last:]
    candidates = log[:-keep_last] if len(log) > keep_last else []
    protected: set[str] = set()
    for e in kept:
        protected.update((e["layout"], e["centroids"]))
    if cur is not None:
        protected.update((cur["layout"], cur["centroids"]))
    foreign, unreadable = _foreign_manifest_paths(sf_dir, profile)
    if unreadable:
        # A REAL foreign CURRENT/v{N}.json failed to read (not a torn
        # temp — those never match the name filter): that manifest's
        # references are unknown, so this pass must be protect-all —
        # deleting nothing beats deleting a layout another profile's
        # reader still resolves (r14 ADVICE). Log entries retained;
        # the next pass retries.
        return {
            "kept_versions": [e["version"] for e in log],
            "pruned_versions": [],
            "removed_paths": [],
            "skipped_paths": [],
            "skipped_live": [],
            "unreadable_foreign": sorted(unreadable),
        }
    protected |= foreign
    # Live builder memos hand these paths to later ensure_* calls in
    # this session — deleting them would turn a memo hit into a
    # dangling read. Tracked separately so the skip is REPORTED.
    # Every ensure_* builder (flag-set AND dict-memo) registers its
    # returned paths in _LIVE_ARTIFACT_PATHS (r14 ADVICE: a test can
    # publish ensure_vector_index_ivf's triple into a manifest; once
    # that entry ages past keep_last, gc must not rmtree a path the
    # session memo still returns; r15 review: the registry replaces
    # gc re-deriving the builders' tmp_path leaf names inline).
    live: set[str] = set(_LIVE_ARTIFACT_PATHS)
    for triple in _VECTOR_IVF_SCALED_READY.values():
        live.update(triple[:2])
    for triple in _EMB_IVF_SCALED_READY.values():
        live.update(triple[:2])
    root = ROOT.rstrip(os.sep) + os.sep
    removed: list[str] = []
    skipped: list[str] = []
    skipped_live: list[str] = []
    pruned: list[int] = []
    mdir = _manifest_dir(sf_dir, profile)
    # Pass 1 — decide per ENTRY: an entry holding any path retention
    # does not own (foreign root) or must not break (live builder
    # memo) keeps its log file, so the path stays tracked for a later
    # run. Its OTHER paths then also become protected — a retained
    # log entry must never reference a deleted directory.
    deletable: list[dict] = []
    for e in candidates:
        reasons = []
        for p in (e["layout"], e["centroids"]):
            # Foreign-root and live-memo checks run BEFORE the
            # protected-set shortcut: a live path may ALSO be
            # referenced by another manifest, and which rail held it
            # must not depend on what else this session published.
            if not p.startswith(root):
                skipped.append(p)
                reasons.append(p)
            elif p in live:
                skipped_live.append(p)
                reasons.append(p)
        if reasons:
            protected.update((e["layout"], e["centroids"]))
        else:
            deletable.append(e)
    # Pass 2 — delete what only deletable entries reference.
    for e in deletable:
        for p in (e["layout"], e["centroids"]):
            if p in protected or p in removed:
                continue
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
                removed.append(p)
        vfile = os.path.join(mdir, f"v{e['version']}.json")
        if os.path.exists(vfile):
            os.remove(vfile)
        pruned.append(e["version"])
    # Janitor pass for crashed publishers (r15 review): a zero-byte
    # v{N}.json is an O_EXCL slot claim whose publisher died before
    # the content os.replace. Readers skip it and it never enters the
    # log, so nothing else would ever remove it — sweep claims old
    # enough (10 min) that no live publisher can still be inside the
    # claim→replace window (that window is two tiny JSON writes).
    stale_claims: list[str] = []
    if os.path.isdir(mdir):
        import re as _re
        import time as _time

        for name in os.listdir(mdir):
            if not _re.fullmatch(r"v(\d+)\.json", name):
                continue
            p = os.path.join(mdir, name)
            try:
                if (
                    os.path.getsize(p) == 0
                    and _time.time() - os.path.getmtime(p) > 600
                ):
                    os.remove(p)
                    stale_claims.append(name)
            except OSError:
                continue
    return {
        "kept_versions": [e["version"] for e in kept],
        "pruned_versions": pruned,
        "removed_paths": sorted(removed),
        "skipped_paths": sorted(set(skipped)),
        "skipped_live": sorted(set(skipped_live)),
        **(
            {"removed_stale_claims": sorted(stale_claims)}
            if stale_claims
            else {}
        ),
    }


def _foreign_manifest_paths(
    sf_dir: str, profile: str
) -> tuple[set[str], list[str]]:
    """Every (layout, centroids) path any OTHER manifest — different
    profile, or a different corpus tag — still references via its
    CURRENT pointer or log entries, plus the list of manifest files
    that FAILED to read. One metadata walk of the manifest directories
    under the artifact root (each holds a handful of tiny JSON files);
    the cluster form is the catalog listing every retention job
    consults before deleting data files another table might share.

    In-flight publish artifacts are benign and not failures: temp
    files never match the CURRENT/v{N}.json name filter (they start
    with '.'), and a zero-byte v{N}.json is an O_EXCL slot claim whose
    content hasn't landed. Anything ELSE unreadable goes into the
    failure list — the caller (gc_index_versions) treats a non-empty
    list as protect-all, because a manifest whose references cannot be
    read might reference anything (r14 ADVICE: the old per-entry
    swallow silently dropped that manifest's protection)."""
    import json

    from .sources.tmputil import ROOT

    own = _manifest_dir(sf_dir, profile)
    out: set[str] = set()
    bad: list[str] = []
    if not os.path.isdir(ROOT):
        return out, bad
    for d in os.listdir(ROOT):
        if not d.startswith("ivf_serving_manifest"):
            continue
        base = os.path.join(ROOT, d)
        for tag in os.listdir(base):
            mdir = os.path.join(base, tag)
            if mdir == own or not os.path.isdir(mdir):
                continue
            for name in os.listdir(mdir):
                if name != "CURRENT" and not (
                    name.startswith("v") and name.endswith(".json")
                ):
                    continue
                p = os.path.join(mdir, name)
                try:
                    if name != "CURRENT" and os.path.getsize(p) == 0:
                        continue  # publisher's in-flight slot claim
                    with open(p) as f:
                        e = json.load(f)
                    out.update((e["layout"], e["centroids"]))
                except (OSError, ValueError, KeyError):
                    bad.append(p)
    return out, bad


#: PSI alarm for the tick's drift branch — the standard 0.25
#: "significant shift" bar the monitoring ops already use
#: (q_psi_drift, ivf_cell_psi), applied to the index's own cell
#: occupancy.
IVF_PSI_ALARM = 0.25
#: Small-batch gate: PSI's 0.1/0.25 stability rules assume each
#: cell's expected batch count is ≳10 (ivf_cell_psi's measured
#: inflation: 0.69 at ~1.7 docs/cell on a SAME-distribution slice) —
#: batches below 10·cells record their PSI but cannot fire the alarm.
IVF_PSI_MIN_PER_CELL = 10


def maintain_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    profile: str = "default",
    batch: DataFrame | None = None,
    gc_keep: int | None = None,
) -> dict:
    """One maintenance tick, end to end (the lifecycle glue), now
    carrying BOTH halves of the retrain policy plus retention:

    - SIZE: count the stored index (bounded metadata aggregate), ask
      ivf_retrain_due against the published geometry;
    - DATA (when ``batch`` — a (id, dv) DataFrame of the incoming
      vectors — is supplied): broadcast-assign the batch to the
      PUBLISHED centroids and PSI its cell histogram against the
      published layout's occupancy (operators/pipeline.psi_report —
      the same arithmetic as the ivf_cell_psi row, so the tick and
      the monitor cannot drift apart). The alarm is gated on
      n_batch ≥ IVF_PSI_MIN_PER_CELL·cells — small batches record
      psi but cannot fire it (the measured small-batch inflation in
      ivf_cell_psi's docstring);
    - on either trigger (or no version yet): publish the freshly
      ensured scaled layout — the ensure_* builder trains at
      ivf_cells_for(N_now) by construction, so 'rebuild' and 'first
      publish' are the same call. NOTE the psi_due retrain trains
      from the STORED index, never from the probed batch itself:
      drifted vectors only enter the stored index via the append/delta
      path (or a corpus refresh, which re-keys the builder memo), so a
      psi_due tick fired BEFORE the drifted batch has landed resolves
      to byte-identical content and reports 'retrain_noop' — by
      design, repeatedly, until the batch lands and the rebuild has
      something new to train on. Otherwise report 'append' (the delta
      path,
      incremental_ivf / append_ivf_delta, owns data movement between
      retrains);
    - RETENTION (when ``gc_keep`` is set): after the decision, run
      gc_index_versions(keep_last=gc_keep) so superseded layouts are
      pruned by the same singleton that publishes them.

    Returns {action, version, cells, n_vectors} plus {psi, psi_gated,
    psi_due} when a batch was checked and {gc: report} when retention
    ran. Cost: one count, one ≤cells-row PSI aggregate over the batch
    assignment, one metadata GC listing — the corpus-scale work stays
    in the builders."""
    n_now = spark.read.parquet(ensure_vector_index(spark, sf_dir)).count()
    cur = current_index_version(spark, sf_dir, profile=profile)
    extra: dict = {}
    psi_due = False
    if cur is not None and batch is not None:
        from .functions.embed import dot as vdot
        from .operators.clustering import _assign, _cents_df
        from .operators.pipeline import psi_report

        cents_rows = [
            (int(r.cid), [float(v) for v in r.cv], float(r.cc))
            for r in spark.read.parquet(cur["centroids"]).collect()
        ]
        # Resolve the vector column BY TYPE — specifically a FLOAT
        # array (the layouts' array<double> shape; array<float>
        # accepted for a caller that kept the parquet source type),
        # not by position and not any array (r14 ADVICE: an
        # array<string> metadata column used to pass the ambiguity
        # guard and mis-assign downstream). Ambiguity is an error,
        # not a guess.
        vec_cols = [
            f.name
            for f in batch.schema.fields
            if f.dataType.simpleString() in ("array<double>", "array<float>")
        ]
        if len(vec_cols) != 1:
            raise ValueError(
                "maintain_ivf_index batch needs exactly one "
                "array<double>/array<float> vector column, got "
                f"{vec_cols or batch.columns}"
            )
        vecc = vec_cols[0]
        others = [c for c in batch.columns if c != vecc]
        if not others:
            raise ValueError(
                "maintain_ivf_index batch needs an id column besides "
                f"the vector column {vecc!r}"
            )
        # Prefer an explicitly id-NAMED column; a batch with extra
        # metadata columns must not get an arbitrary id (r14 ADVICE).
        # TWO id-named columns are as ambiguous as none (r15 review:
        # picking named[0] would choose by column position, the exact
        # guess the guard exists to refuse).
        named = [c for c in others if c in ("id", "vec_id", "doc_id")]
        if len(named) == 1:
            idc = named[0]
        elif not named and len(others) == 1:
            idc = others[0]
        else:
            raise ValueError(
                "maintain_ivf_index batch id column is ambiguous: "
                f"{others} (name exactly one of id/vec_id/doc_id, or "
                "pass exactly two columns)"
            )
        vx = batch.select(
            F.col(idc).alias("vec_id"), F.col(vecc).alias("x")
        ).withColumn("xx", vdot(F.col("x"), F.col("x")))
        delta = _assign(vx, _cents_df(spark, cents_rows)).select(
            F.col("cid").cast("long").alias("cell")
        )
        base = spark.read.parquet(cur["layout"]).select(
            F.col("cell").cast("long").alias("cell")
        )
        r = psi_report(spark, cur["centroids"], base, delta).collect()[0]
        gated = r.n_batch < IVF_PSI_MIN_PER_CELL * r.cells
        psi_due = (not gated) and float(r.psi) > IVF_PSI_ALARM
        extra = {
            "psi": float(r.psi),
            "psi_gated": bool(gated),
            "psi_due": bool(psi_due),
        }
    # A fired psi_due deliberately does NOT drop the scaled-builder
    # memo (r14 ADVICE adjudication): popping it makes the rebuild
    # overwrite the layout path IN PLACE mid-session, and every reader
    # holding Spark's cached file listing for that path then fails
    # FILE_NOT_EXIST — the exact mutating-a-served-path hazard
    # append_ivf_delta's docstring forbids. The alarm's semantics are
    # documented instead (docstring above): drifted vectors only enter
    # the stored index via the append/delta path or a corpus refresh
    # (which changes sf_dir and thus the memo key), so until the batch
    # lands, a psi_due tick correctly re-reports retrain_noop.
    if (
        cur is not None
        and not psi_due
        and not ivf_retrain_due(cur["cells"], n_now)
    ):
        out = {
            "action": "append",
            "version": cur["version"],
            "cells": cur["cells"],
            "n_vectors": n_now,
            **extra,
        }
    else:
        layout, cents, cells = ensure_vector_index_ivf_scaled(spark, sf_dir)
        if cur is not None and (
            cur["layout"],
            cur["centroids"],
            cur["cells"],
        ) == (layout, cents, cells):
            # The rebuild resolved to the EXACT published triple (the
            # builder re-trains in place, or this session's memo
            # already holds the retrained layout) — minting a new
            # version would be pure churn: every flip invalidates
            # every reader's version-keyed cache for byte-identical
            # content (r14 review). Surface the decision, keep the
            # pointer.
            out = {
                "action": "retrain_noop",
                "version": cur["version"],
                "cells": cells,
                "n_vectors": n_now,
                **extra,
            }
        else:
            version = publish_index_version(
                spark, sf_dir, layout, cents, cells, profile=profile
            )
            out = {
                "action": "publish",
                "version": version,
                "cells": cells,
                "n_vectors": n_now,
                **extra,
            }
    if gc_keep is not None:
        out["gc"] = gc_index_versions(
            spark, sf_dir, keep_last=gc_keep, profile=profile
        )
    return out


_VECTOR_IVF_SCALED_READY: dict[tuple, tuple[str, str, int]] = {}


def ensure_vector_index_ivf_scaled(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str, int]:
    """ensure_vector_index_ivf at the CORPUS-ADAPTIVE cell count
    (ivf_cells_for(N) instead of the fixed IVF_CELLS floor): counts
    the stored index once (bounded metadata job, memoized with the
    layout), trains ivf_cells_for(N) centroids with the same
    deterministic Lloyd pass, and rewrites partitionBy(cell) under a
    cells-tagged path so the two geometries coexist in one session.
    Returns (layout_path, centroids_path, cells). This is the layout
    q_ivf_recall_scaled reports recall for — the r11 verdict's "make
    IVF_CELLS a function of corpus size" demonstration, kept separate
    from the 16-cell layout so every r11-vintage IVF query's results
    stay byte-identical."""
    from .functions.embed import dot as vdot

    key = session_key(spark, sf_dir)
    if key in _VECTOR_IVF_SCALED_READY:
        _LIVE_ARTIFACT_PATHS.update(_VECTOR_IVF_SCALED_READY[key][:2])
        return _VECTOR_IVF_SCALED_READY[key]
    idx = spark.read.parquet(ensure_vector_index(spark, sf_dir))
    cells = ivf_cells_for(idx.count())
    tag = dir_tag(sf_dir)
    path = tmp_path(f"vector_index_ivf_c{cells}", tag)
    cents_path = tmp_path(f"vector_index_ivf_c{cells}_cents", tag)
    vx = idx.select(
        F.col("doc_id").alias("vec_id"), F.col("dv").alias("x")
    ).withColumn("xx", vdot(F.col("x"), F.col("x")))
    _build_ivf_layout(
        spark,
        vx,
        keep=(),
        out_cols=[
            F.col("vec_id").alias("doc_id"),
            F.col("x").alias("dv"),
            F.col("cid").alias("cell"),
        ],
        path=path,
        cents_path=cents_path,
        cells=cells,
    )
    _VECTOR_IVF_SCALED_READY[key] = (path, cents_path, cells)
    _LIVE_ARTIFACT_PATHS.update((path, cents_path))
    return path, cents_path, cells


def _build_ivf_layout(
    spark: SparkSession,
    vx: DataFrame,
    keep: tuple[str, ...],
    out_cols: list,
    path: str,
    cents_path: str,
    cells: int = IVF_CELLS,
) -> None:
    """Shared IVF build core (r11 review: the documents and embeddings
    builders are the same train→store-centroids→partitioned-write
    sequence): train ``cells`` centroids (default the IVF_CELLS floor;
    the scaled builder passes ivf_cells_for(N)) with the deterministic
    Lloyd pass over ``vx(vec_id, x, xx, *keep)``, store them as a
    K-row parquet at cents_path, and rewrite the vectors
    partitionBy(cell) at path. ``out_cols`` maps the assignment's
    columns to the layout's schema (the cell column must be aliased
    from cid)."""
    from .operators.clustering import kmeans_fit_assign

    assigned, cents = kmeans_fit_assign(spark, vx, cells, keep=keep)
    spark.createDataFrame(
        [(int(cid), [float(v) for v in cv], float(cc)) for cid, cv, cc in cents],
        "cid LONG, cv ARRAY<DOUBLE>, cc DOUBLE",
    ).write.mode("overwrite").parquet(cents_path)
    (
        # Cluster rows by their target directory before the
        # partitioned write (the LSH-layout lesson: without this
        # every task writes a sliver into every cell dir), with the
        # explicit cells count so the write parallelizes
        # (cluster_by_dirs: the keyless form AQE-coalesced the tiny
        # pre-write shuffle to ONE task at bench scale).
        cluster_by_dirs(assigned.select(*out_cols), cells, "cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )


def ensure_vector_index_ivf(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """k-means-trained IVF layout of the stored document vector index
    (r10 verdict #2): the engine's own deterministic Lloyd trainer
    (operators/clustering.kmeans_fit_assign — the same 2-round seeded
    pass q_cluster_kmeans runs on the embeddings table) learns
    IVF_CELLS coarse centroids from the document hash-embeds, and the
    index is rewritten ``partitionBy(cell)`` — one directory per
    Voronoi cell. Returns (layout_path, centroids_path); the
    centroids are stored next to the layout because every probe ranks
    them to pick its nprobe cells (K rows — the bounded "index
    metadata" a real IVF serving node keeps in memory).

    vs the sign-LSH layout (ensure_vector_index_lsh): LSH needs no
    training and replicates the index N_TABLES×; IVF stores each
    vector ONCE and adapts its partitions to the corpus's actual
    density at the cost of a training pass. Same serving shape either
    way: literal probe keys → static partition pruning → bounded
    candidate pool (q_mmr_ivf_pool). Trained ONCE per (session,
    sf_dir); a production deployment retrains on drift and rewrites —
    the delta path is the q_incremental_lsh pattern with cell in
    place of (tbl, bucket)."""
    from .functions.embed import dot as vdot

    tag = dir_tag(sf_dir)
    path = tmp_path("vector_index_ivf", tag)
    cents_path = tmp_path("vector_index_ivf_cents", tag)
    key = session_key(spark, sf_dir)
    if key not in _VECTOR_IVF_READY:
        idx = spark.read.parquet(ensure_vector_index(spark, sf_dir))
        vx = idx.select(
            F.col("doc_id").alias("vec_id"), F.col("dv").alias("x")
        ).withColumn("xx", vdot(F.col("x"), F.col("x")))
        _build_ivf_layout(
            spark,
            vx,
            keep=(),
            out_cols=[
                F.col("vec_id").alias("doc_id"),
                F.col("x").alias("dv"),
                F.col("cid").alias("cell"),
            ],
            path=path,
            cents_path=cents_path,
        )
        _VECTOR_IVF_READY.add(key)
    _LIVE_ARTIFACT_PATHS.update((path, cents_path))
    return path, cents_path


_EMB_IVF_READY: set[tuple] = set()


def ensure_embeddings_index_ivf(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """IVF layout for the EMBEDDINGS table (vec_id, label, v),
    trained with the same deterministic Lloyd pass as the documents
    layout (ensure_vector_index_ivf) at the same IVF_CELLS geometry —
    the stored serving layout the mining queries
    (q_training_triplets_ann) pool from, replacing their full-table
    scoring scan with a cell-pruned read. Labels ride the layout rows
    because the consumers split candidates into positives/negatives
    by label INSIDE the pool. Returns (layout_path, centroids_path);
    built once per (session, sf_dir)."""
    from .functions.embed import dot as vdot

    tag = dir_tag(sf_dir)
    path = tmp_path("emb_index_ivf", tag)
    cents_path = tmp_path("emb_index_ivf_cents", tag)
    key = session_key(spark, sf_dir)
    if key not in _EMB_IVF_READY:
        vx = load(spark, sf_dir, "embeddings").select(
            "vec_id",
            "label",
            F.col("embedding").cast("array<double>").alias("x"),
        ).withColumn("xx", vdot(F.col("x"), F.col("x")))
        # label rides THROUGH the assignment map (keep=) — joining it
        # back on vec_id afterwards would shuffle every vector twice
        # at build time for a column the scan already had (r11 review).
        _build_ivf_layout(
            spark,
            vx,
            keep=("label",),
            out_cols=[
                "vec_id",
                F.col("x").alias("v"),
                "label",
                F.col("cid").alias("cell"),
            ],
            path=path,
            cents_path=cents_path,
        )
        _EMB_IVF_READY.add(key)
    _LIVE_ARTIFACT_PATHS.update((path, cents_path))
    return path, cents_path


_EMB_IVF_SCALED_READY: dict[tuple, tuple[str, str, int]] = {}


def ensure_embeddings_index_ivf_scaled(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str, int]:
    """ensure_embeddings_index_ivf at the CORPUS-ADAPTIVE cell count
    (r12 verdict #4: the mining layout still trained a fixed
    IVF_CELLS=16 after ivf_cells_for reached the documents serving
    layout — the same probe-fraction argument applies to
    between-epochs mining at 100×): counts the embeddings table once
    (bounded metadata job, memoized with the layout), trains
    ivf_cells_for(N) centroids with the same deterministic Lloyd
    pass, and writes partitionBy(cell) under a cells-tagged path so
    the two mining geometries coexist in one session (exactly the
    ensure_vector_index_ivf_scaled pattern for documents). Labels
    ride the layout rows as in the fixed-geometry builder. Returns
    (layout_path, centroids_path, cells). The fixed-16 layout stays
    the geometry of the r11-vintage q_training_triplets_ann so its
    results remain byte-identical; q_training_triplets_join serves
    from this one (functions/vector.py)."""
    from .functions.embed import dot as vdot

    key = session_key(spark, sf_dir)
    if key in _EMB_IVF_SCALED_READY:
        _LIVE_ARTIFACT_PATHS.update(_EMB_IVF_SCALED_READY[key][:2])
        return _EMB_IVF_SCALED_READY[key]
    vx = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("x"),
    ).withColumn("xx", vdot(F.col("x"), F.col("x")))
    cells = ivf_cells_for(vx.count())
    tag = dir_tag(sf_dir)
    path = tmp_path(f"emb_index_ivf_c{cells}", tag)
    cents_path = tmp_path(f"emb_index_ivf_c{cells}_cents", tag)
    _build_ivf_layout(
        spark,
        vx,
        keep=("label",),
        out_cols=[
            "vec_id",
            F.col("x").alias("v"),
            "label",
            F.col("cid").alias("cell"),
        ],
        path=path,
        cents_path=cents_path,
        cells=cells,
    )
    _EMB_IVF_SCALED_READY[key] = (path, cents_path, cells)
    _LIVE_ARTIFACT_PATHS.update((path, cents_path))
    return path, cents_path, cells


_BM25_INDEX_READY: set[tuple] = set()


def ensure_bm25_index(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the BM25 posting index ONCE per (session, sf_dir)
    and return its base path: ``postings/`` = (term, doc_id, dl, tf)
    clustered and sorted by term, ``stats/`` = one row (n_docs,
    avgdl). The keyword twin of ensure_vector_index: the reference's
    build-then-query lifecycle applies to the keyword leg too — a
    retrieval query probes the stored postings (the term predicate
    pushes into the Parquet scan, and term-sorted row groups make the
    min/max skip selective), never re-running scan→tokenize→explode
    per question batch, which at 100 TB is a full corpus pass per
    call. Kept fresh the same way the vector index is: anti-join
    delta + last-writer-wins upsert."""
    tag = dir_tag(sf_dir)
    base = tmp_path("bm25_index", tag)
    key = session_key(spark, sf_dir)
    if key not in _BM25_INDEX_READY:
        from .functions.hashing import tokens

        docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
        # Checkpointed: the postings write AND the stats write both
        # consume tok — without this the build pays the full corpus
        # tokenize twice (the ensure_tfidf_index discipline).
        tok = docs.select(
            "doc_id", tokens(F.lower(F.col("text"))).alias("tk")
        ).localCheckpoint(eager=False)
        tf = (
            tok.select(
                "doc_id", F.size("tk").alias("dl"), F.explode("tk").alias("term")
            )
            .groupBy("doc_id", "dl", "term")
            .agg(F.count("*").alias("tf"))
        )
        (
            tf.repartition(F.col("term"))
            .sortWithinPartitions("term")
            .write.mode("overwrite")
            .parquet(os.path.join(base, "postings"))
        )
        (
            tok.agg(
                F.count("*").alias("n_docs"), F.avg(F.size("tk")).alias("avgdl")
            )
            .write.mode("overwrite")
            .parquet(os.path.join(base, "stats"))
        )
        _BM25_INDEX_READY.add(key)
    return base


_TFIDF_INDEX_READY: set[tuple] = set()


def ensure_tfidf_index(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the TF-IDF weighted index ONCE per (session,
    sf_dir): ``weighted/`` = (term, doc_id, w, dnorm) clustered and
    sorted by term (w = tf·idf rounded to 6; dnorm = the doc's vector
    norm riding as a column, NOT pre-divided, so probe rounding stays
    bit-identical to the oracle), ``terms/`` = (term, df, n_docs) for
    probe-side idf weights. A DOC-KEYED twin for lookups that start
    from document ids lives in its own lazily-built memo
    (ensure_tfidf_by_doc below). Same lifecycle contract as
    ensure_vector_index / ensure_bm25_index: queries probe the stored
    index with their term (or doc) predicate pushed into the Parquet
    scan.

    Determinism note: per-doc norms sum integer MICRO-units (a float
    sum of round-6 terms is partition-order-dependent — the
    q_rfm_segments half-cent class)."""
    tag = dir_tag(sf_dir)
    base = tmp_path("tfidf_index", tag)
    key = session_key(spark, sf_dir)
    if key not in _TFIDF_INDEX_READY:
        from .functions.hashing import tokens

        docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
        tok = docs.select("doc_id", tokens(F.lower(F.col("text"))).alias("tk"))
        stats = F.broadcast(tok.agg(F.count("*").alias("n_docs")))
        tf = (
            tok.select("doc_id", F.explode("tk").alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count("*").alias("tf"))
            .localCheckpoint(eager=False)
        )
        dfq = tf.groupBy("term").agg(F.count("*").alias("df")).crossJoin(stats)
        dfq.write.mode("overwrite").parquet(os.path.join(base, "terms"))
        dfq = spark.read.parquet(os.path.join(base, "terms"))
        w = tf.join(dfq, "term").select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("w"),
        )
        norm = w.groupBy("doc_id").agg(
            F.round(
                F.sqrt(
                    F.sum(F.round(F.col("w") * F.col("w") * 1e6, 0).cast("long"))
                    / F.lit(1e6)
                ),
                6,
            ).alias("dnorm")
        )
        (
            w.join(norm, "doc_id")
            .repartition(F.col("term"))
            .sortWithinPartitions("term")
            .write.mode("overwrite")
            .parquet(os.path.join(base, "weighted"))
        )
        _TFIDF_INDEX_READY.add(key)
    return base


_TFIDF_BYDOC_READY: set[tuple] = set()


def ensure_tfidf_by_doc(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the DOC-KEYED twin of the TF-IDF index ONCE per
    (session, sf_dir) and return its path: the same weighted rows
    re-clustered and sorted by doc_id, read back from the
    term-clustered copy (cheaper than recomputing the join). Its own
    memo, separate from ensure_tfidf_index: only doc-keyed readers
    (PRF feedback-term mining) trigger it, so term-keyed consumers
    (q_tfidf_topk, the driver gate) never pay a second full-index
    rewrite for an artifact they don't read (r9 review)."""
    base = ensure_tfidf_index(spark, sf_dir)
    path = os.path.join(base, "by_doc")
    key = session_key(spark, sf_dir)
    if key not in _TFIDF_BYDOC_READY:
        (
            spark.read.parquet(os.path.join(base, "weighted"))
            .repartition(F.col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite")
            .parquet(path)
        )
        _TFIDF_BYDOC_READY.add(key)
    return path


_COORDER_EDGES_READY: set[tuple] = set()


def ensure_coorder_edges(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the co-order part graph ONCE per (session, sf_dir):
    DISTINCT (u, v) edges with u < v connecting parts co-ordered in
    the same urgent order — the shared substrate of the whole graph
    family (triangles, label propagation, k-core, recursive BFS),
    each of which previously re-derived the identical
    lineitem⨯orders self-join + distinct per call (~2 s each at
    sf0.1). A link graph IS a materialized artifact in web pipelines
    (the crawl's link table); deriving it per query is the same
    anti-pattern as re-embedding the corpus per retrieval call."""
    from .operators.graph_metrics import _TRI_PRIORITY

    tag = dir_tag(sf_dir)
    path = tmp_path("coorder_edges", tag)
    key = session_key(spark, sf_dir)
    if key not in _COORDER_EDGES_READY:
        li = (
            load(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_partkey")
            .join(
                load(spark, sf_dir, "orders")
                .filter(F.col("o_orderpriority") == _TRI_PRIORITY)
                .select("o_orderkey"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .select(
                F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
            )
        )
        a = li.select(F.col("ok"), F.col("pk").alias("u"))
        b = li.select(F.col("ok"), F.col("pk").alias("v"))
        (
            a.join(b, "ok")
            .filter(F.col("u") < F.col("v"))
            .select("u", "v")
            .distinct()
            .write.mode("overwrite")
            .parquet(path)
        )
        _COORDER_EDGES_READY.add(key)
    return path


def run_query(
    spark: SparkSession,
    sf_dir: str,
    questions: list[tuple[int, str]] | None = None,
    method: str = "vector",
    top_k: int = TOP_K,
) -> DataFrame:
    """(documents, questions) → answers, the flagship contract.

    Returns one row per (question, context chunk) with rank, score,
    snippet, a summary on the best chunk, and ``search_method`` —
    the reference's response shape normalized to a DataFrame.

    The question batch is a JVM-local ``VALUES`` relation with the
    ids and texts bound as SQL parameters (never pasted into SQL
    text), so no Python worker runs per request; on the vector path
    Catalyst folds the question embedding into that relation's
    ``LocalTableScan``. An empty batch returns an empty frame of the
    answer schema.
    """
    if questions is None:
        questions = GOLDEN_QUESTIONS
    if method not in ("vector", "keyword"):
        raise ValueError(f"unknown method {method!r}")
    qdf = local_rows(spark, questions, QUESTIONS_DDL)

    if method == "vector":
        # Probe the STORED index: embed only the question batch (10
        # rows), broadcast it against the materialized vector table —
        # never re-embed the corpus inside a query (round-2 verdict:
        # the embed-per-query form cost 15 s vs <1 s warm here, and at
        # 100 TB it is a full corpus pass per question batch).
        idx = read_parquet(spark, ensure_vector_index(spark, sf_dir))
        qv = F.broadcast(embed_df(qdf, "question_text", out_col="qv"))
        scored = idx.crossJoin(qv).select(
            "question_id",
            "question_text",
            "doc_id",
            F.round(dot(F.col("qv"), F.col("dv")), 6).alias("score"),
            "snippet",
        )
    else:
        # Staging discipline (functions/embed.py:55-62): lower(text)
        # once per document BELOW the join; question-word split once
        # on the broadcast side — not per (question, doc, word).
        docs = spread(load(spark, sf_dir, "documents")).select(
            "doc_id",
            F.substring("text", 1, SNIPPET_LEN).alias("snippet"),
            F.lower(F.col("text")).alias("__text_lc"),
        )
        qb = F.broadcast(
            qdf.select(
                "question_id",
                "question_text",
                F.split(F.lower(F.col("question_text")), " ").alias("__qwords"),
            )
        )
        matches = F.size(
            F.filter(F.col("__qwords"), lambda w: F.col("__text_lc").contains(w))
        )
        scored = docs.crossJoin(qb).select(
            "question_id",
            "question_text",
            "doc_id",
            F.round(matches.cast("double") / F.size(F.col("__qwords")), 6).alias(
                "score"
            ),
            "snippet",
        )

    w = Window.partitionBy("question_id").orderBy(F.desc("score"), F.asc("doc_id"))
    topk = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
    )
    return topk.select(
        "question_id",
        "question_text",
        "rank",
        "doc_id",
        "score",
        F.substring("snippet", 1, 100).alias("snippet"),
        F.when(
            F.col("rank") == 1,
            F.format_string(
                "Based on document %d (relevance %.3f): %s",
                F.col("doc_id"),
                F.col("score"),
                F.substring("snippet", 1, 100),
            ),
        ).alias("summary"),
        F.lit(
            "vector_search" if method == "vector" else "text_search_fallback"
        ).alias("search_method"),
    )


def doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document response stats (ref: src/main.py:176-186)."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("doc_id").agg(
        F.count("*").alias("chunks_count"),
        F.sum(F.length("text")).alias("total_characters"),
    )


def _api_oracle(
    method: str, questions: list[tuple[int, str]] = GOLDEN_QUESTIONS
) -> str:
    from .functions.embed import embed_subquery_sql
    from .operators.questions import question_values_sql

    if method == "vector":
        qv = embed_subquery_sql("questions", "question_id", "question_text")
        dv = embed_subquery_sql("documents", "doc_id", "text")
        scored = f"""
qv AS (SELECT q.question_id, q.question_text, e.embedding AS qv
       FROM {qv} e JOIN questions q ON e.id = q.question_id),
dv AS (SELECT d.doc_id, e.embedding AS dv, substr(d.text, 1, {SNIPPET_LEN}) AS snippet
       FROM {dv} e JOIN documents d ON e.id = d.doc_id),
scored AS (
  SELECT question_id, question_text, doc_id,
         round(list_dot_product(qv.qv, dv.dv), 6) AS score, snippet
  FROM qv CROSS JOIN dv
)"""
        tag = "vector_search"
    else:
        scored = f"""
scored AS (
  SELECT q.question_id, q.question_text, d.doc_id,
         round(CAST(len(list_filter(string_split(lower(q.question_text), ' '),
                              w -> contains(lower(d.text), w))) AS DOUBLE)
           / len(string_split(lower(q.question_text), ' ')), 6) AS score,
         substr(d.text, 1, {SNIPPET_LEN}) AS snippet
  FROM questions q CROSS JOIN documents d
)"""
        tag = "text_search_fallback"
    return f"""
WITH {question_values_sql(questions)},
{scored},
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY question_id
                               ORDER BY score DESC, doc_id) AS rank
  FROM scored
)
SELECT question_id, question_text, CAST(rank AS INT) AS rank, doc_id, score,
       substr(snippet, 1, 100) AS snippet,
       CASE WHEN rank = 1
            THEN printf('Based on document %d (relevance %.3f): %s',
                        doc_id, score, substr(snippet, 1, 100))
       END AS summary,
       '{tag}' AS search_method
FROM ranked WHERE rank <= {TOP_K}
"""


_RRF_K = 60  # standard reciprocal-rank-fusion constant
_RRF_DEPTH = 50  # per-retriever candidate depth before fusion


def _rrf_oracle() -> str:
    from .functions.embed import embed_subquery_sql
    from .operators.questions import question_values_sql

    qv = embed_subquery_sql("questions", "question_id", "question_text")
    dv = embed_subquery_sql("documents", "doc_id", "text")
    return f"""
WITH {question_values_sql()},
qv AS (SELECT q.question_id, e.embedding AS v FROM {qv} e
       JOIN questions q ON e.id = q.question_id),
dv AS (SELECT id AS doc_id, embedding AS v FROM {dv}),
vec AS (
  SELECT question_id, doc_id,
         row_number() OVER (PARTITION BY question_id
                            ORDER BY round(list_dot_product(qv.v, dv.v), 6) DESC,
                                     doc_id) AS r
  FROM qv CROSS JOIN dv
),
kw AS (
  SELECT q.question_id, d.doc_id,
         row_number() OVER (PARTITION BY q.question_id
            ORDER BY round(CAST(len(list_filter(
                       string_split(lower(q.question_text), ' '),
                       w -> contains(lower(d.text), w))) AS DOUBLE)
                     / len(string_split(lower(q.question_text), ' ')), 6) DESC,
                     d.doc_id) AS r
  FROM questions q CROSS JOIN documents d
),
fused AS (
  SELECT coalesce(v.question_id, k.question_id) AS question_id,
         coalesce(v.doc_id, k.doc_id) AS doc_id,
         round(coalesce(1.0 / ({_RRF_K} + v.r), 0)
               + coalesce(1.0 / ({_RRF_K} + k.r), 0), 6) AS rrf
  FROM (SELECT * FROM vec WHERE r <= {_RRF_DEPTH}) v
  FULL JOIN (SELECT * FROM kw WHERE r <= {_RRF_DEPTH}) k
    ON v.question_id = k.question_id AND v.doc_id = k.doc_id
)
SELECT question_id, doc_id, rrf
FROM (SELECT *, row_number() OVER (PARTITION BY question_id
                                   ORDER BY rrf DESC, doc_id) AS rn
      FROM fused)
WHERE rn <= {TOP_K}
"""


@register("q_hybrid_rrf", oracle=_rrf_oracle())
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: Reciprocal Rank Fusion of the vector and
    keyword retrievers (score = Σ 1/(60+rank), the Cormack et al.
    fusion) — the production answer to 'embedding misses exact terms,
    keywords miss paraphrases'. Each retriever contributes its top-50
    ranking; fusion is a full outer join on (question, doc) so a doc
    ranked by only one retriever still scores. Both retrievers and the
    fusion are the engine's own operators end-to-end."""
    # One pass: BOTH retriever scores are per-(question, doc) column
    # expressions, so a single broadcast cross join produces them
    # together; both rank windows share the question_id partitioning
    # (one exchange, two sorts), and because the two ranks land on the
    # same row, the full outer join of the two top-50 lists reduces to
    # conditional terms — the whole fusion runs in 3 shuffles instead
    # of the naive two-pipeline 7.
    #
    # The vector half probes the STORED index (ensure_vector_index) —
    # a retrieval query must never re-embed the corpus per question
    # batch (at 100 TB that's a full compute pass per call; the r2/r4
    # verdicts both flagged the embed-per-query form). Recovering the
    # full text for the keyword half is a doc_id equi-join against the
    # documents scan — shuffle-on-key work, not embedding compute, and
    # co-partitionable (bucketed) at scale.
    qdf = questions_df_cached(spark)
    idx = spark.read.parquet(ensure_vector_index(spark, sf_dir)).select("doc_id", "dv")
    docs = spread(load(spark, sf_dir, "documents")).select(
        "doc_id", F.lower(F.col("text")).alias("__text_lc")
    )
    corpus = idx.join(docs, "doc_id")
    qq = F.broadcast(
        embed_df(qdf, "question_text", out_col="qv").select(
            "question_id",
            "question_text",
            "qv",
            F.split(F.lower(F.col("question_text")), " ").alias("__qwords"),
        )
    )
    matches = F.size(
        F.filter(F.col("__qwords"), lambda w: F.col("__text_lc").contains(w))
    )
    scored = corpus.crossJoin(qq).select(
        "question_id",
        "doc_id",
        F.round(dot(F.col("qv"), F.col("dv")), 6).alias("vscore"),
        F.round(matches.cast("double") / F.size(F.col("__qwords")), 6).alias("kscore"),
    )
    w = Window.partitionBy("question_id")
    vr = F.row_number().over(w.orderBy(F.desc("vscore"), F.asc("doc_id")))
    kr = F.row_number().over(w.orderBy(F.desc("kscore"), F.asc("doc_id")))
    ranked = scored.select("question_id", "doc_id", vr.alias("vr"), kr.alias("kr"))
    rrf = F.round(
        F.when(F.col("vr") <= _RRF_DEPTH, 1.0 / (_RRF_K + F.col("vr"))).otherwise(0.0)
        + F.when(F.col("kr") <= _RRF_DEPTH, 1.0 / (_RRF_K + F.col("kr"))).otherwise(
            0.0
        ),
        6,
    )
    fused = ranked.filter(
        (F.col("vr") <= _RRF_DEPTH) | (F.col("kr") <= _RRF_DEPTH)
    ).select("question_id", "doc_id", rrf.alias("rrf"))
    w_f = Window.partitionBy("question_id").orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.withColumn("rn", F.row_number().over(w_f))
        .filter(F.col("rn") <= TOP_K)
        .drop("rn")
    )


def questions_df_cached(spark: SparkSession):
    from .operators.questions import questions_df

    return questions_df(spark)


@register("q_api_run_vector", oracle=_api_oracle("vector"))
def q_api_run_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.1 flagship lifecycle, vector path, end-to-end through the
    public facade: embed the QUESTION batch only, probe the stored
    vector index (broadcast questions ⨯ index scan → cosine → top-k →
    summary). The corpus embed pass happens once at index build
    (ensure_vector_index), not per query."""
    return run_query(spark, sf_dir, method="vector")


@register("q_api_run_keyword", oracle=_api_oracle("keyword"))
def q_api_run_keyword(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.1 flagship lifecycle, keyword fallback path, through the
    public facade — the reference's exception fallback as a strategy
    flag."""
    return run_query(spark, sf_dir, method="keyword")
