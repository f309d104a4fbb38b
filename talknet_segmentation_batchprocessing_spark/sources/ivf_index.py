"""IVF index persistence: the ANN list layout ON DISK.

``sim_ivf_topk`` (queries/extensions.py) builds its inverted lists per
query run; its docstring's scale posture — "at 100 TB the lists are
additionally bucketed on disk" — becomes real here: vectors land in
parquet PARTITIONED BY their coarse-quantizer list id, so a search
probing nprobe lists reads exactly those directories (Spark partition
pruning: the ``cent_id IN (...)`` filter resolves at planning time and
the other K - nprobe lists are never opened). The storage-level
sibling of sources/bucketed.py: pay the assignment once at write time,
amortized over every subsequent query batch.

Search parity is exact by construction: the same deterministic
sampled-k-means centroids (stored alongside the vectors), the same
assign/probe window tie-breaks, and the same exact-fold cosine
expressions as the registered ``sim_ivf_topk`` — the parity test
asserts row equality against the registered query.
"""

from __future__ import annotations

import contextlib
import os
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_EPOCH_MARKER = "_COMPACTION_EPOCH"
_LOCK_FILE = "_WRITE_LOCK"
# a lock older than this is presumed crashed and may be stolen — the
# escape hatch for a writer that died without releasing. Far above any
# real write's duration at test scale; at 100 TB tune it to the
# cluster's longest compaction.
_LOCK_STALE_SECONDS = 6 * 3600


@contextlib.contextmanager
def _write_lock(index_path: str):
    """Enforce the index's single-writer discipline: every write path
    (build / append / compact) holds an ``O_CREAT|O_EXCL`` lock file
    under the index root for its duration, so two concurrent writers —
    two compactions, or compact + rebuild — fail LOUDLY instead of
    interleaving the layout swap (the documented-but-unenforced
    posture through round 11). Readers never take it: search resolves
    the live layout read-only (:func:`_live_layout`).

    Crash escape hatch: a lock whose mtime is older than
    ``_LOCK_STALE_SECONDS`` is presumed orphaned by a dead writer and
    stolen (one retry; losing the steal race to another claimant
    raises like any held lock). A fresher lock raises with the
    holder's recorded pid/op so the operator can verify before
    removing it by hand."""
    os.makedirs(index_path, exist_ok=True)
    p = os.path.join(index_path, _LOCK_FILE)
    fd = None
    for attempt in (0, 1):
        try:
            fd = os.open(p, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            try:
                age = time.time() - os.stat(p).st_mtime
                with open(p) as f:
                    holder = f.read().strip()
            except FileNotFoundError:
                continue  # holder released between open and stat: retry
            if attempt == 0 and age > _LOCK_STALE_SECONDS:
                # presumed-crashed holder: steal by removing, then
                # re-race the O_EXCL open (a concurrent claimant wins
                # at most one of the two removes+opens)
                with contextlib.suppress(FileNotFoundError):
                    os.unlink(p)
                continue
            raise RuntimeError(
                f"index {index_path} is locked by another writer "
                f"({holder or 'unknown'}, lock age {age:.0f}s): the "
                "index admits ONE writer at a time — concurrent "
                "build/append/compact would interleave the layout "
                "swap. Wait for the holder, or if it crashed, remove "
                f"{p} by hand (locks older than {_LOCK_STALE_SECONDS}s "
                "are stolen automatically)."
            )
    if fd is None:  # both attempts lost the race
        raise RuntimeError(
            f"index {index_path} write lock contended: lost the "
            f"acquisition race twice on {p}. Retry once the other "
            "writer finishes."
        )
    try:
        os.write(fd, f"pid={os.getpid()} t={int(time.time())}".encode())
        os.close(fd)
        yield
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(p)


def _recover_layout(index_path: str, sub: str) -> str:
    """Heal the compaction swap's crash window: between
    ``os.rename(live, live + '.old')`` and ``os.rename(staged, live)``
    no live directory exists. If we find that state (live missing,
    ``.old`` present), the staged copy may be incomplete — the OLD
    layout is the only one known complete, so move it back. Returns
    the live layout path either way.

    MUTATES DISK, so it runs only on WRITE paths (append / compact),
    which assume a single writer at a time. Read paths use
    :func:`_live_layout` instead: a concurrent reader healing during a
    HEALTHY compaction swap could rename ``.old`` back between the
    compactor's two renames, making the compactor's
    ``os.rename(staged, live)`` collide — and leaving the epoch marker
    advanced against a never-folded layout."""
    live = os.path.join(index_path, sub)
    old = live + ".old"
    if not os.path.isdir(live) and os.path.isdir(old):
        os.rename(old, live)
    return live


def _live_layout(index_path: str, sub: str) -> str:
    """Read-only sibling of :func:`_recover_layout` for SEARCH paths:
    resolve the layout to scan without touching disk. Mid-swap (live
    missing, ``.old`` present) the old layout is the only complete
    one, so read it where it stands — the writer heals or finishes the
    swap on its own next entry. Readers concurrent with the swap's
    final ``rmtree(old)`` can still lose the directory under a planned
    scan; on a real object store the manifest swap removes that
    window, locally it is the documented single-writer /
    reader-quiesced-during-compaction posture."""
    live = os.path.join(index_path, sub)
    old = live + ".old"
    if not os.path.isdir(live) and os.path.isdir(old):
        return old
    return live


def _read_epoch(index_path: str) -> int | None:
    """Last micro-batch id folded into a compacted layout, or None if
    the index was never compacted."""
    p = os.path.join(index_path, _EPOCH_MARKER)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        content = f.read().strip()
    try:
        return int(content)
    except ValueError:
        raise RuntimeError(
            f"corrupt compaction marker {p!r} (content {content!r}): "
            "the marker is written atomically, so this means external "
            "tampering or filesystem damage — verify the index layout "
            "and rewrite or remove the marker by hand."
        ) from None


def _write_epoch(index_path: str, epoch: int) -> None:
    """Atomic marker write (tmp + rename): a crash mid-write must
    never leave an empty/truncated marker that poisons every later
    append with an unexplained parse error."""
    p = os.path.join(index_path, _EPOCH_MARKER)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(int(epoch)))
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, p)


def _check_replay_epoch(index_path: str, batch_id: int) -> None:
    """Refuse a streaming replay that predates the compaction epoch:
    compaction folds every batch at or below the epoch into the
    baseline partition, so a replayed micro-batch <= epoch no longer
    has 'its own' partition to overwrite — its dynamic overwrite would
    hit the BASELINE, replacing the whole folded list with just that
    batch's rows. Same rule as VACUUM vs time travel: the replay
    window left of the marker is closed. Resume the ORIGINAL
    checkpoint after compacting (its batch ids continue monotonically
    past the epoch, so normal progress is never refused); a checkpoint
    that still wants to replay into the window — crash before the
    last pre-compaction commit, or a checkpoint reset to 0 — must be
    advanced past the epoch (or the index rebuilt, which clears the
    marker and starts a fresh generation)."""
    epoch = _read_epoch(index_path)
    if epoch is not None and int(batch_id) <= epoch:
        raise RuntimeError(
            f"micro-batch {batch_id} predates the compaction epoch "
            f"{epoch} of index {index_path}: its rows are already "
            "folded into the baseline partition, so replaying it "
            "would overwrite the baseline with a fraction of its "
            "rows. Resume the pre-compaction checkpoint (its batch "
            "ids continue past the epoch); if this batch id comes "
            "from a reset/stale checkpoint, advance it past the "
            "epoch or rebuild the index to start a fresh generation."
        )


def rank_centroids(vectors: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, v) x (cent_id, cv) -> (vec_id, v, cent_id, cc, rn):
    cosine of every vector against every (broadcast) centroid, ranked
    per vector with ties to the lowest cent_id — THE coarse-assignment
    expression. Every build / append / search-probe / drift-monitor
    stage routes through this one definition, because the
    incremental == rebuild and disk == in-session contracts depend on
    the assignment being byte-identical everywhere; a tie-break or
    norm tweak applied to one copy but not another would silently
    break them. Mirrors sim_ivf_topk's oracle stage exactly."""
    from ..queries.extensions import _DOT_VC_SPARK, _NORM_CV_SPARK, _NORM_SPARK

    e = vectors.select("vec_id", "v").withColumn("nrm", F.expr(_NORM_SPARK))
    c = cent.select("cent_id", "cv").withColumn("cn", F.expr(_NORM_CV_SPARK))
    pairs = e.crossJoin(F.broadcast(c)).withColumn(
        "cc", F.try_divide(F.expr(_DOT_VC_SPARK), F.col("nrm") * F.col("cn"))
    )
    wv = Window.partitionBy("vec_id").orderBy(F.desc("cc"), "cent_id")
    return pairs.withColumn("rn", F.row_number().over(wv))


def assign_centroids(vectors: DataFrame, cent: DataFrame) -> DataFrame:
    """Winning list per vector: (vec_id, v, cent_id)."""
    return (
        rank_centroids(vectors, cent)
        .filter(F.col("rn") == 1)
        .select("vec_id", "v", "cent_id")
    )


def probe_lists(queries: DataFrame, cent: DataFrame, nprobe: int) -> DataFrame:
    """(query_id, v) -> the nprobe nearest lists per query:
    (query_id, cent_id), same ranking as :func:`rank_centroids`."""
    ranked = rank_centroids(
        queries.select(F.col("query_id").alias("vec_id"), "v"), cent
    )
    return ranked.filter(F.col("rn") <= nprobe).select(
        F.col("vec_id").alias("query_id"), "cent_id"
    )


def build_ivf_index(emb: DataFrame, out_path: str, batch_id: int | None = None) -> int:
    """(vec_id, v) frame -> on-disk IVF index at ``out_path``:
    ``centroids/`` (K rows) + ``vectors/`` partitioned by cent_id.
    Returns the number of lists written.

    Assignment is sim_ivf_topk's exact stage: cosine vs the broadcast
    sampled-k-means centroids, ties to the lowest cent_id. The write
    repartitions by cent_id first so each list lands as one file per
    shuffle partition, not one file per (input partition x list).

    ``batch_id`` (streaming-ingest layout): when set, vectors land
    under (cent_id, batch_id) two-level partitions so later streaming
    appends can overwrite exactly their own batch partition on replay;
    the seed conventionally takes batch_id=-1 (micro-batch epochs
    start at 0). cent_id stays the OUTER level, so probe-time
    partition pruning is unchanged.

    Holds the index write lock (single-writer discipline, see
    :func:`_write_lock`).
    """
    with _write_lock(out_path):
        return _build_ivf_index_locked(emb, out_path, batch_id)


def _build_ivf_index_locked(
    emb: DataFrame, out_path: str, batch_id: int | None
) -> int:
    from ..queries.extensions import _ivf_centroids

    cent = _ivf_centroids(emb.select("vec_id", "v"))
    assign = assign_centroids(emb, cent)
    cent.select("cent_id", "cv").write.mode("overwrite").parquet(
        os.path.join(out_path, "centroids")
    )
    parts = ["cent_id"]
    if batch_id is not None:
        assign = assign.withColumn("batch_id", F.lit(int(batch_id)))
        parts.append("batch_id")
    (
        assign.repartition("cent_id")
        .write.mode("overwrite")
        .partitionBy(*parts)
        .parquet(os.path.join(out_path, "vectors"))
    )
    # a full rebuild starts a fresh stream generation: micro-batch
    # numbering restarts, so a compaction epoch from the PREVIOUS
    # generation must not refuse the new stream's early batches
    try:
        os.remove(os.path.join(out_path, _EPOCH_MARKER))
    except FileNotFoundError:
        pass
    return cent.count()


def append_ivf_index(
    emb_delta: DataFrame, index_path: str, batch_id: int | None = None
) -> None:
    """Incremental index maintenance (the FAISS ``IndexIVF.add``
    posture): assign a delta batch of (vec_id, v) vectors to the
    EXISTING stored centroids — no reclustering, no rewrite of
    existing lists — and append them into their list partitions.
    Existing files are immutable; a crashed append leaves orphan
    part-files in otherwise-valid lists, which a re-run overwrites at
    the caller's build-marker granularity.

    The assignment expression, tie-break, and partition layout are
    byte-identical to :func:`build_ivf_index`, so seed-build + append
    equals a full rebuild whenever the centroid training sample is
    contained in the seed — the convergence contract
    ``sim_ivf_disk_merge`` checks against the full-rebuild oracle.

    ``batch_id`` (streaming ingest): when set, the delta lands under
    its own (cent_id, batch_id=N) partitions via DYNAMIC partition
    overwrite — a replayed micro-batch (crash after write, before the
    checkpoint commit) rewrites exactly its own partitions to the same
    content, so the streaming sink is idempotent; batches never touch
    each other's or the seed's (batch_id=-1) partitions.

    Holds the index write lock (single-writer discipline, see
    :func:`_write_lock`).
    """
    with _write_lock(index_path):
        _append_ivf_index_locked(emb_delta, index_path, batch_id)


def _append_ivf_index_locked(
    emb_delta: DataFrame, index_path: str, batch_id: int | None
) -> None:
    if batch_id is not None:
        _check_replay_epoch(index_path, batch_id)
    _recover_layout(index_path, "vectors")
    spark = emb_delta.sparkSession
    cent = spark.read.parquet(os.path.join(index_path, "centroids"))
    assign = assign_centroids(emb_delta, cent)
    if batch_id is None:
        (
            assign.repartition("cent_id")
            .write.mode("append")
            .partitionBy("cent_id")
            .parquet(os.path.join(index_path, "vectors"))
        )
    else:
        (
            assign.withColumn("batch_id", F.lit(int(batch_id)))
            .repartition("cent_id")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("cent_id", "batch_id")
            .parquet(os.path.join(index_path, "vectors"))
        )


def build_ivfpq_index(
    spark: SparkSession, emb: DataFrame, out_path: str, batch_id: int | None = None
) -> None:
    """(vec_id, v) frame -> on-disk IVF+PQ index (the persisted FAISS
    IndexIVFPQ): ``centroids/`` (coarse quantizer), ``codebooks/``
    (m, code_id, cv — the PQ sub-quantizers), and ``codes/`` holding
    ONLY (vec_id, code0..code3) per vector, partitioned by the coarse
    cent_id — raw vectors are never stored, the 16x compression that
    makes billion-scale serving possible. All three artifacts reuse
    sim_ivf_topk's / sim_pq_topk's exact training and assignment
    stages, so searches against this layout are checked by
    sim_ivfpq_topk's oracle.

    ``batch_id`` (streaming-ingest layout, same convention as
    :func:`build_ivf_index`): when set, codes land under
    (cent_id, batch_id) two-level partitions so streaming appends can
    overwrite exactly their own batch partition on replay; the seed
    conventionally takes batch_id=-1. cent_id stays the OUTER level,
    so probe-time partition pruning is unchanged.

    Holds the index write lock (single-writer discipline, see
    :func:`_write_lock`).
    """
    with _write_lock(out_path):
        _build_ivfpq_index_locked(spark, emb, out_path, batch_id)


def _build_ivfpq_index_locked(
    spark: SparkSession, emb: DataFrame, out_path: str, batch_id: int | None
) -> None:
    from ..queries.dataset_ops import _pq_assign_long, _pq_cb, _pq_wide_codes
    from ..queries.extensions import _ivf_centroids

    cent = _ivf_centroids(emb.select("vec_id", "v"))
    assign = assign_centroids(emb, cent).select("vec_id", "cent_id")
    cb = _pq_cb(spark, emb.select("vec_id", "v"))
    codes = _pq_wide_codes(_pq_assign_long(spark, emb.select("vec_id", "v"), cb))
    cent.select("cent_id", "cv").write.mode("overwrite").parquet(
        os.path.join(out_path, "centroids")
    )
    cb.write.mode("overwrite").parquet(os.path.join(out_path, "codebooks"))
    coded = codes.join(assign, "vec_id")
    parts = ["cent_id"]
    if batch_id is not None:
        coded = coded.withColumn("batch_id", F.lit(int(batch_id)))
        parts.append("batch_id")
    (
        coded.repartition("cent_id")
        .write.mode("overwrite")
        .partitionBy(*parts)
        .parquet(os.path.join(out_path, "codes"))
    )
    # fresh stream generation on rebuild — same rule as build_ivf_index
    try:
        os.remove(os.path.join(out_path, _EPOCH_MARKER))
    except FileNotFoundError:
        pass


def append_ivfpq_index(
    emb_delta: DataFrame, index_path: str, batch_id: int | None = None
) -> None:
    """Incremental maintenance for the COMPRESSED index — the layout
    you actually stream into at 100 TB, because only codes ever touch
    disk: assign a delta batch of (vec_id, v) vectors to the EXISTING
    stored coarse centroids, PQ-encode them against the EXISTING
    stored codebooks (both quantizers frozen at seed time, the FAISS
    IndexIVFPQ.add posture), and land ONLY the (vec_id, code0..code3)
    rows in their list partitions. Raw delta vectors exist solely in
    flight; nothing outside the touched partitions is rewritten.

    Assignment + encoding are byte-identical to
    :func:`build_ivfpq_index` (same `_pq_assign_long` stage against
    the stored codebooks, same coarse tie-breaks), so seed-build +
    append equals a full rebuild whenever the coarse AND PQ training
    samples are contained in the seed — the convergence contract
    tests/test_ann_ingest.py pins against the sim_ivfpq_topk oracle.

    ``batch_id`` (streaming ingest): dynamic partition overwrite under
    (cent_id, batch_id=N) — a replayed micro-batch rewrites exactly
    its own partitions to the same content, idempotent like the flat
    index's sink; a replay at or below the compaction epoch is
    refused (see :func:`_check_replay_epoch`).

    Holds the index write lock (single-writer discipline, see
    :func:`_write_lock`).
    """
    with _write_lock(index_path):
        _append_ivfpq_index_locked(emb_delta, index_path, batch_id)


def _append_ivfpq_index_locked(
    emb_delta: DataFrame, index_path: str, batch_id: int | None
) -> None:
    from ..queries.dataset_ops import _pq_assign_long, _pq_wide_codes

    if batch_id is not None:
        _check_replay_epoch(index_path, batch_id)
    _recover_layout(index_path, "codes")
    spark = emb_delta.sparkSession
    cent = spark.read.parquet(os.path.join(index_path, "centroids"))
    cb = spark.read.parquet(os.path.join(index_path, "codebooks"))
    assign = assign_centroids(emb_delta, cent).select("vec_id", "cent_id")
    codes = _pq_wide_codes(
        _pq_assign_long(spark, emb_delta.select("vec_id", "v"), cb)
    )
    coded = codes.join(assign, "vec_id")
    if batch_id is None:
        (
            coded.repartition("cent_id")
            .write.mode("append")
            .partitionBy("cent_id")
            .parquet(os.path.join(index_path, "codes"))
        )
    else:
        (
            coded.withColumn("batch_id", F.lit(int(batch_id)))
            .repartition("cent_id")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("cent_id", "batch_id")
            .parquet(os.path.join(index_path, "codes"))
        )


def search_ivfpq_index(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """(query_id, v) batch -> (query_id, neighbor_id, rank, adc_dist):
    route each query through the stored coarse quantizer to nprobe
    lists, scan ONLY those code partitions (planning-time pruning),
    score in the COMPRESSED domain by PQ asymmetric distance (each
    candidate costs 4 LUT lookups against the broadcast per-query
    distance tables — raw vectors never leave disk because they were
    never stored), per-query top-k. Mirrors sim_ivfpq_topk stage for
    stage, fixed m-order ADC sum included."""
    from ..functions.rounding import stable_round

    q = queries.select("query_id", "v")
    cand = probe_candidates(spark, index_path, q, nprobe, "codes")
    scored = adc_score_codes(spark, index_path, q, cand)
    w = Window.partitionBy("query_id").orderBy("adc", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            stable_round(F.col("adc"), 6).alias("adc_dist"),
        )
    )


def _last_committed_batch(checkpoint_dir: str) -> tuple[int, int]:
    """(last committed batch id, last started batch id) from a
    Structured Streaming checkpoint's ``commits/`` and ``offsets/``
    directories, -1 for an empty/absent side. A started-but-uncommitted
    batch shows as ``offsets > commits``: its part-files may already
    sit in the index layout, but the stream WILL replay it on resume —
    compacting now would fold the half-written batch into the baseline
    and then refuse its legitimate replay."""

    def _mx(sub: str) -> int:
        d = os.path.join(checkpoint_dir, sub)
        mx = -1
        if os.path.isdir(d):
            for f in os.listdir(d):
                try:
                    mx = max(mx, int(f))
                except ValueError:
                    pass  # .tmp / metadata files
        return mx

    return _mx("commits"), _mx("offsets")


def adc_luts(
    spark: SparkSession, index_path: str, queries: DataFrame
) -> DataFrame:
    """Per-query PQ distance tables against the STORED codebooks:
    (query_id, v) batch -> (query_id, luts) where luts[m][code+1] is
    the squared distance of the query's m-th subvector to that code's
    centroid. Width-independent — the nprobe sweep builds them ONCE
    and reuses them at every probe width."""
    from ..queries.dataset_ops import _pq_luts_lit

    q = queries.select("query_id", "v")
    # The stored codebook is M x K rows (32 at the default split) — the
    # same bounded-collect class as the probe lists. Collecting it and
    # embedding the codewords as literals turns the LUT build into ONE
    # projection over the query batch (round-12, guide §2.4): the
    # crossJoin + two collect_list aggregations this previously ran are
    # gone. _pq_luts_lit evaluates the IDENTICAL zip_with/aggregate
    # fold with the identical luts[m][code] layout (sorted code_id
    # within sorted m — what the array_sorts pinned), so every d2 is
    # bit-identical; the sweep/search parity tests re-verify that.
    cb_rows = (
        spark.read.parquet(os.path.join(index_path, "codebooks"))
        .select("m", "code_id", "cv")
        .collect()
    )
    books = [
        (int(r["m"]), int(r["code_id"]), [float(x) for x in r["cv"]])
        for r in cb_rows
    ]
    n_sub = len({m for m, _c, _v in books})
    subdim = len(books[0][2]) if books else 0
    return _pq_luts_lit(q, books, n_sub, subdim)


def adc_score_codes(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    cand: DataFrame,
    luts: DataFrame | None = None,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """PQ asymmetric-distance scoring against the STORED codebooks:
    (query_id, v) batch x candidate code rows (query_id, vec_id,
    code0..code{M-1} — as produced by ``probe_candidates(..,
    'codes')``) -> (query_id, neighbor_id, adc). Per-query distance
    tables (:func:`adc_luts`, or pass precomputed ``luts``) are
    broadcast to the candidates; each candidate then costs M array
    lookups, fixed m-order sum matching sim_ivfpq_topk's oracle.
    Shared by :func:`search_ivfpq_index` and the persisted-index
    nprobe sweep (sim_nprobe_sweep_pq_disk), so the two score in the
    identical compressed domain. ``extra_cols`` names candidate columns
    carried through unchanged (the sweep's width tag); the ADC
    expression itself never varies with them."""
    from ..queries.dataset_ops import _PQ_M

    lut_q = luts if luts is not None else adc_luts(spark, index_path, queries)
    base = cand.withColumnRenamed("vec_id", "neighbor_id").join(
        F.broadcast(lut_q), "query_id"
    )
    d = [
        F.element_at(
            F.element_at(F.col("luts"), m + 1), F.col(f"code{m}").cast("int") + 1
        )
        for m in range(_PQ_M)
    ]
    adc = d[0] + d[1] + d[2] + d[3]  # fixed m-order, matching the oracle
    return base.select(
        *extra_cols, "query_id", "neighbor_id", adc.alias("adc")
    )


def _compact_layout(
    spark: SparkSession,
    index_path: str,
    sub: str,
    data_cols: list[str],
    checkpoint_dir: str | None = None,
) -> tuple[int, int]:
    """Shared OPTIMIZE machinery for a cent_id-partitioned index layout
    (``vectors`` for IVF-Flat, ``codes`` for IVF+PQ): read the whole
    layout and rewrite it as one file per list. A streamed layout
    (two-level cent_id/batch_id partitions) KEEPS its batch level —
    everything folds into a single baseline partition
    ``batch_id=<epoch>`` per list, so partition depth stays uniform
    and post-compaction micro-batches (> epoch) append normally next
    to the baseline; a never-streamed layout stays single-level.

    Publish is atomic at directory granularity: the new layout lands in
    a staging dir, the old live dir is moved aside, the staging dir
    renamed in, then the old layout deleted — a reader sees either the
    old or the new complete layout. A crash between the two renames
    (live missing, ``.old`` present) is healed on the next entry to any
    index operation by :func:`_recover_layout`, which moves the old —
    only-known-complete — layout back. (On a real object store this is
    a manifest swap; local rename suffices here.)

    Returns (files_before, files_after). Folding the per-batch
    fragments into the baseline CLOSES the streaming replay window at
    the max folded batch_id, recorded in the ``_COMPACTION_EPOCH``
    marker at the index root: :func:`append_ivf_index` /
    :func:`append_ivfpq_index` refuse any micro-batch at or below it,
    because a replayed batch's dynamic overwrite would now hit the
    BASELINE partition — replacing the whole folded list with just
    that batch's rows. The refusal turns that data-loss into a loud
    error (same rule as VACUUM vs time travel in the lakehouse
    layer). Operationally: stop the stream on a committed checkpoint,
    compact, then resume the SAME checkpoint — file-source batch ids
    continue monotonically past the epoch, so normal progress is
    never refused; only a genuinely stale replay (crash before the
    last commit, or a checkpoint reset to 0) is. An uncommitted
    in-flight batch's part-files would be folded in as-is, which is
    why the stream must be stopped ON A COMMITTED BATCH first — pass
    the sink's ``checkpoint_dir`` and compaction verifies that
    precondition itself, refusing when the layout holds a batch the
    checkpoint never committed (crash between write and commit: the
    stream will replay that batch on resume, so folding it now would
    first corrupt the baseline with the half-written rows and then
    block the legitimate replay).

    Holds the index write lock for the WHOLE read-stage-swap sequence
    (single-writer discipline, see :func:`_write_lock`): two
    concurrent compactions, or compact racing a rebuild/append, fail
    loudly instead of interleaving the swap's renames.
    """
    with _write_lock(index_path):
        return _compact_layout_locked(
            spark, index_path, sub, data_cols, checkpoint_dir
        )


def _compact_layout_locked(
    spark: SparkSession,
    index_path: str,
    sub: str,
    data_cols: list[str],
    checkpoint_dir: str | None,
) -> tuple[int, int]:
    import shutil

    live_root = _recover_layout(index_path, sub)

    def _count_files(root: str) -> int:
        return sum(
            1
            for r, _d, fs in os.walk(root)
            for f in fs
            if f.endswith(".parquet")
        )

    def _batch_level(root: str) -> tuple[bool, int]:
        has, mx = False, -(10**18)
        for _r, ds, _f in os.walk(root):
            for d in ds:
                if d.startswith("batch_id="):
                    try:
                        mx = max(mx, int(d.split("=", 1)[1]))
                        has = True
                    except ValueError:
                        pass
        return has, (mx if has else -1)

    before = _count_files(live_root)
    has_batches, folded_epoch = _batch_level(live_root)
    if checkpoint_dir is not None:
        committed, started = _last_committed_batch(checkpoint_dir)
        stray = folded_epoch if (has_batches and folded_epoch > committed) else None
        if started > committed or stray is not None:
            detail = (
                f"layout holds batch_id={stray} beyond the last commit"
                if stray is not None
                else f"batch {started} started but never committed"
            )
            raise RuntimeError(
                f"refusing to compact {index_path}: checkpoint "
                f"{checkpoint_dir} shows an in-flight micro-batch "
                f"({detail}, last committed {committed}). The stream "
                "will replay that batch on resume; compacting now "
                "would fold its partial part-files into the baseline "
                "and then refuse the legitimate replay. Resume the "
                "stream to let the batch commit (availableNow drains "
                "it), then compact."
            )
    rows = spark.read.parquet(live_root).select(*data_cols, "cent_id")
    parts = ["cent_id"]
    if has_batches:
        # keep the layout depth uniform: the folded baseline lives in
        # ONE batch partition per list, at the epoch id itself — new
        # micro-batches (> epoch) land beside it, never inside it
        rows = rows.withColumn("batch_id", F.lit(int(folded_epoch)))
        parts.append("batch_id")
    staged = live_root + ".compacting"
    shutil.rmtree(staged, ignore_errors=True)
    (
        rows.repartition("cent_id")
        .write.mode("overwrite")
        .partitionBy(*parts)
        .parquet(staged)
    )
    # Close the replay window BEFORE the swap (epoch only ever moves
    # forward; repeated compactions keep the max). Ordering matters:
    # a crash between marker and swap leaves the OLD layout live with
    # the window already closed — a legitimate replay gets a loud
    # spurious refusal (recoverable: retry the compaction, or remove
    # the marker after verifying the layout). The other order —
    # marker after swap — has a crash window where the FOLDED layout
    # is live with the window still open, and a replay's dynamic
    # overwrite replaces the baseline partition with a fraction of
    # its rows: silent data loss. Spurious refusal beats corruption.
    # A never-streamed layout (no batch_id level) has NO replay window
    # to close — writing a marker there would only poison a later
    # seed-convention append (batch_id=-1 <= epoch -1), so skip it.
    if has_batches:
        prev = _read_epoch(index_path)
        epoch = max(folded_epoch, prev if prev is not None else -1)
        _write_epoch(index_path, epoch)
    old = live_root + ".old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(live_root, old)
    os.rename(staged, live_root)
    shutil.rmtree(old, ignore_errors=True)
    return before, _count_files(live_root)


def compact_ivf_index(
    spark: SparkSession, index_path: str, checkpoint_dir: str | None = None
) -> tuple[int, int]:
    """OPTIMIZE for the IVF-Flat index: rewrite the vectors layout so
    each list is one file (the small-files OPTIMIZE applied to the ANN
    index). Streaming ingest (streaming/
    ann_ingest.py) accumulates one file per (micro-batch x touched
    list); probing a list then opens every batch's fragment. See
    :func:`_compact_layout` for the swap/crash/replay-window rules;
    pass the ingest sink's ``checkpoint_dir`` to have the
    stopped-on-a-committed-batch precondition verified rather than
    trusted."""
    return _compact_layout(
        spark, index_path, "vectors", ["vec_id", "v"], checkpoint_dir
    )


def compact_ivfpq_index(
    spark: SparkSession, index_path: str, checkpoint_dir: str | None = None
) -> tuple[int, int]:
    """OPTIMIZE for the persisted IVF+PQ index: same machinery over the
    codes layout — the one that actually accumulates fragments at
    100 TB, since the compressed index is the one streamed into
    (:func:`ann_pq_index_sink`). Rewrites (vec_id, code0..code3) rows
    into one file per coarse list; same atomic swap, crash self-heal,
    replay-window epoch, and optional checkpoint precondition as the
    flat index."""
    from ..queries.dataset_ops import _PQ_M

    return _compact_layout(
        spark,
        index_path,
        "codes",
        ["vec_id"] + [f"code{m}" for m in range(_PQ_M)],
        checkpoint_dir,
    )


def collect_probe_rows(
    spark: SparkSession, index_path: str, queries: DataFrame, nprobe: int
) -> list:
    """Rank the (bounded) query batch against the stored centroids and
    collect the top-``nprobe`` probed lists per query WITH their probe
    rank: rows of (query_id, cent_id, rn). The sweep queries collect
    this ONCE at the widest axis point and slice ``rn <= np`` per
    width — the width-8 ranking contains every narrower width, so
    re-ranking per width would run the same small job N times."""
    cent = spark.read.parquet(os.path.join(index_path, "centroids"))
    ranked = rank_centroids(
        queries.select(F.col("query_id").alias("vec_id"), "v"), cent
    ).filter(F.col("rn") <= nprobe)
    return ranked.select(
        F.col("vec_id").alias("query_id"), "cent_id", "rn"
    ).collect()  # bounded: |queries| * nprobe


def probe_candidates(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    nprobe: int,
    sub: str = "vectors",
    probe_rows: list | None = None,
) -> DataFrame:
    """The pruned candidate scan shared by every disk-search path:
    route each (query_id, v) query to its nprobe nearest stored
    centroids, then scan ONLY those list partitions of the ``sub``
    layout (static ``cent_id IN`` pruning resolved at planning time —
    the other K - nprobe directories are never opened) and pair each
    query with the rows of its probed lists, self-pairs excluded.
    Returns the layout's columns plus query_id. The probed-list id set
    is bounded (|queries| x nprobe), collected to drive the pruning —
    the documented bounded-collect class. Exposed so cost audits
    (sim_nprobe_sweep_disk) can COUNT exactly what a search at that
    width reads, from the identical scan; pass pre-collected
    ``probe_rows`` (from :func:`collect_probe_rows`, already filtered
    to this width) to skip the per-call ranking job."""
    if probe_rows is None:
        cent = spark.read.parquet(os.path.join(index_path, "centroids"))
        probe_rows = probe_lists(
            queries.select("query_id", "v"), cent, nprobe
        ).collect()  # bounded: |queries| * nprobe
    pairs = [(int(r["query_id"]), int(r["cent_id"])) for r in probe_rows]
    probed_lists = sorted({c for _, c in pairs})

    rows = spark.read.parquet(_live_layout(index_path, sub)).filter(
        F.col("cent_id").isin(probed_lists)  # planning-time pruning
    )
    return rows.join(
        F.broadcast(
            spark.createDataFrame(pairs, "query_id bigint, cent_id bigint")
            .withColumn("cent_id", F.col("cent_id").cast("int"))
        ),
        "cent_id",
    ).filter(F.col("vec_id") != F.col("query_id"))


def search_ivf_index(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 2,
) -> DataFrame:
    """(query_id, v) batch -> (query_id, neighbor_id, cos_sim, rank):
    route each query to its nprobe nearest stored centroids, scan ONLY
    those list partitions (static ``cent_id IN`` partition pruning via
    :func:`probe_candidates`), exact-fold cosine verify, per-query
    top-k."""
    from ..queries.extensions import _DOT_AB_SPARK, _NORM_SPARK

    q = queries.select(
        F.col("query_id"), F.col("v")
    ).withColumn("nrm", F.expr(_NORM_SPARK))
    cand = probe_candidates(
        spark, index_path, q.select("query_id", "v"), nprobe, "vectors"
    )
    ne = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("bv"),
    ).withColumn(
        "bn",
        F.expr(
            "sqrt(aggregate(transform(bv, x -> x * x), cast(0.0 as double),"
            " (acc, v) -> acc + v))"
        ),
    )
    qe = q.select(
        "query_id", F.col("v").alias("av"), F.col("nrm").alias("an")
    )
    scored = ne.join(F.broadcast(qe), "query_id").withColumn(
        "cs", F.try_divide(F.expr(_DOT_AB_SPARK), F.col("an") * F.col("bn"))
    )
    from ..functions.rounding import stable_round

    wq = Window.partitionBy("query_id").orderBy(F.desc("cs"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            stable_round("cs", 4).alias("cos_sim"),
            "rank",
        )
    )
