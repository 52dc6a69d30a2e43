"""Deduplication operators for large-scale training-data pipelines.

All operators are pure DataFrame compositions (JVM-side, whole-stage
codegen) — no Python in the hot path.  Hashing uses ``md5`` so results
are reproducible across engines (the DuckDB correctness oracle computes
the identical signatures).

Scale notes (100 TB):
* exact dedup is one hash-shuffle on a 16-byte key; AQE handles skew;
* MinHash: explode(shingles) × seeds is map-side work; the signature
  aggregation shuffles (doc_id, seed) — salting is unnecessary because
  keys are uniformly distributed by construction;
* LSH banding turns all-pairs similarity into an equi-join on band
  keys, the only scalable strategy at 10^9+ docs (no cross join ever);
* n-gram Jaccard / SimHash-hamming verification runs only on candidate
  pairs out of the LSH join, never all pairs.

Composition contract — **exact dedup BEFORE near-dup**.  The banded
joins (:func:`lsh_candidate_pairs`, :func:`simhash_band_pairs`,
:func:`embedding_near_dups`) emit candidate pairs via self-equi-join on
band keys, so a bucket of ``m`` identical documents yields ``m²`` join
rows.  Real web corpora are 30–60% exact-duplicate boilerplate — the
"per-bucket cardinality ~ n / 2^k" assumption holds only AFTER exact
duplicates are collapsed.  Run :func:`exact_dedup` first (as
``operators.curate.curate_corpus`` does), and/or set
``max_bucket_size`` on the banded joins, which drops over-cap buckets
from the join and accounts for them via :func:`oversize_band_buckets`
(the standard Manku-style hot-bucket guard).  The same cap bounds
component sizes for :func:`dup_clusters`.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sql import ident
from .similarity import cosine_sql, dot_sql, double_array_sql
from .textstats import token_count_sql, words_sql


def _same_text_sql(text_col: str) -> str:
    return f"PARTITION BY md5({ident(text_col)})"


def copy_rank_sql(text_col: str, id_col: str) -> str:
    """A row's rank among the rows whose text has its md5, lowest id
    first: exact dedup keeps rank 1."""
    return f"row_number() OVER ({_same_text_sql(text_col)} ORDER BY {ident(id_col)})"


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per exact text hash; adds ``dup_count``."""
    return df.withColumns({
        "_rn": F.expr(copy_rank_sql(text_col, id_col)),
        "dup_count": F.expr(f"count(1) OVER ({_same_text_sql(text_col)})"),
    }).where("_rn = 1").drop("_rn")


def word_shingles(text_col: str = "text", n: int = 3) -> Column:
    """Array of word n-gram shingles (space-joined); empty-safe."""
    words, k = words_sql(text_col), f"{token_count_sql(text_col)} - {n - 1}"
    gram = ", ".join(f"element_at({words}, i + {j})" for j in range(n))
    return F.expr(f"CASE WHEN {k} > 0 THEN transform(sequence(1, greatest({k}, 1)),"
                  f" i -> concat_ws(' ', {gram})) ELSE array({ident(text_col)}) END")


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Long-form MinHash signatures: (id, seed, minhash).

    minhash(doc, seed) = min over shingles of md5("<seed>:<shingle>") —
    deterministic and engine-portable.
    """
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    return (
        df.select(F.col(id_col).alias("id"), word_shingles(text_col, shingle_n).alias("sh"))
        .select("id", F.explode(F.array_distinct("sh")).alias("shingle"))
        .select("id", "shingle", F.explode(seeds).alias("seed"))
        .groupBy("id", "seed")
        .agg(F.min(F.md5(F.concat_ws(":", F.col("seed"), F.col("shingle")))).alias("minhash"))
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH over long-form signatures.

    Band key = md5 of the concatenated row-signatures of the band; docs
    sharing any band key become a candidate pair (equi-join, no cross
    join).  Returns distinct (id_a, id_b) with id_a < id_b.

    ``max_bucket_size`` (opt-in): drop band buckets with more members
    than the cap before the self-join — the hot-bucket guard for
    corpora that violate the exact-dedup-first contract (module
    docstring).  Account for dropped buckets with
    :func:`oversize_band_buckets` over :func:`lsh_banded_signatures`.
    """
    banded = lsh_banded_signatures(sigs, rows_per_band)
    return _banded_candidate_pairs(
        banded, key_col="band_key", max_bucket_size=max_bucket_size
    )


def lsh_banded_signatures(sigs: DataFrame, rows_per_band: int = 2) -> DataFrame:
    """Long-form (id, band, band_key) table for banded MinHash LSH."""
    return (
        sigs.withColumn("band", (F.col("seed") / rows_per_band).cast("int"))
        .groupBy("id", "band")
        .agg(F.md5(F.concat_ws("|", F.sort_array(F.collect_list("minhash")))).alias("band_key"))
    )


def oversize_band_buckets(
    banded: DataFrame,
    max_bucket_size: int,
    band_col: str = "band",
    key_col: str = "band_key",
) -> DataFrame:
    """Accounting twin of the ``max_bucket_size`` guard: the band
    buckets the capped join skipped, as (band, key, n_members).  At web
    scale these are almost always exact-duplicate boilerplate clusters —
    route them through :func:`exact_dedup` instead of the banded join.

    ``key_col`` defaults to ``band_key`` to match the documented
    companion :func:`lsh_banded_signatures`; pass ``key_col="chunk"``
    for SimHash band tables or ``"key"`` for embedding-LSH signature
    tables."""
    return (
        banded.groupBy(F.col(band_col).alias("band"), F.col(key_col).alias("key"))
        .agg(F.count("*").alias("n_members"))
        .where(F.col("n_members") > max_bucket_size)
    )


def dup_clusters(
    pairs: DataFrame,
    max_iter: int = 20,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Connected components over candidate-pair edges → duplicate
    clusters: returns (id, cluster_id) with ``cluster_id`` = the
    minimum id reachable in the component (the canonical document).

    Min-label propagation WITH pointer jumping: each iteration (a)
    joins current labels onto the (symmetrized) edge list and takes the
    per-node min of own and neighbor labels, then (b) jumps
    ``label ← label(label)`` — every label value is itself a node id,
    so one extra self-join on the label table doubles the effective
    propagation distance per round.  Convergence is O(log diameter)
    (pointer doubling), not O(diameter): a 10^4-node chain converges in
    ~15 rounds instead of 10^4 (property-tested with a 10k star+chain
    component in tests/test_dedup_similarity.py).  Per-round shuffle
    volume is O(|E| + |V|) rows regardless of component shape (the
    ``stepped`` frame feeds both sides of the jump join — AQE exchange
    reuse or a second co-partitioned pass, bounded either way) — a
    huge boilerplate cluster costs rounds' join rows, never m² anything
    (pair *generation* is where hot buckets explode; cap them upstream,
    see module docstring).  ``localCheckpoint`` after every round
    truncates the lineage so the plan doesn't grow exponentially —
    required at any scale, not an optimization.
    """
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nmin"))
        )
        stepped = labels.join(neigh, "id", "left").select(
            "id",
            F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias("label"),
        )
        # Pointer jump: adopt the label OF my label.  label is always a
        # node id present in `stepped`, so the left join always matches;
        # the coalesce is belt-and-braces for edge-less ids.
        jump = stepped.select(F.col("id").alias("label"), F.col("label").alias("jlabel"))
        new_labels = (
            stepped.join(jump, "label", "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("jlabel"), F.col("label"))).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n").join(labels.alias("o"), "id")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1).count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # the final round still changed labels.  That is fine if it was
        # the round that COMPLETED convergence, so run one extra
        # stability check before declaring failure — only a state where
        # another round would still lower some label violates the
        # min-reachable-id contract.
        neigh = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nmin"))
        )
        unstable = (
            labels.join(neigh, "id")
            .where(F.col("nmin") < F.col("label"))
            .limit(1).count()
        )
        if unstable:
            raise RuntimeError(
                f"dup_clusters did not converge in max_iter={max_iter} rounds; "
                "a component's diameter exceeds the iteration budget — raise max_iter"
            )
    return labels.select("id", F.col("label").alias("cluster_id"))


def ngram_jaccard(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact word-n-gram Jaccard for candidate pairs (verification stage)."""
    sh = docs.select(
        F.col(id_col).alias("id"),
        F.array_distinct(word_shingles(text_col, shingle_n)).alias("sh"),
    )
    out = (
        pairs.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("uni", F.size(F.array_union("sh_a", "sh_b")))
        .withColumn("jaccard", F.when(F.col("uni") > 0, F.col("inter") / F.col("uni")).otherwise(F.lit(0.0)))
    )
    return out.select("id_a", "id_b", "jaccard")


def simhash64(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 60,
) -> DataFrame:
    """SimHash fingerprint from per-word md5 (60 usable bits so the
    word hash fits a signed BIGINT via 15 hex nibbles).

    sign(word) bit b votes +1/-1; fingerprint bit b = 1 iff the vote
    sum is positive.  Engine-portable: DuckDB reproduces it exactly.
    """
    wh = (df.select(F.col(id_col).alias("id"), F.expr(f"explode({words_sql(text_col)}) AS w"))
          .withColumn("h", F.expr("CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT)")))
    votes = wh.groupBy("id").agg(*[
        F.expr(f"sum(CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN 1 ELSE -1 END) AS v{b}")
        for b in range(bits)])
    fp = " + ".join(f"(CASE WHEN v{b} > 0 THEN {1 << b}L ELSE 0L END)" for b in range(bits))
    return votes.select("id", F.expr(f"{fp} AS simhash"))


def hamming64(col_a: Column, col_b: Column) -> Column:
    """Popcount of XOR via bit_count (Spark 3.3+)."""
    return F.bit_count(col_a.bitwiseXOR(col_b))


def _banded_candidate_pairs(
    exploded: DataFrame,
    band_col: str = "band",
    key_col: str = "key",
    carry: tuple = (),
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Distinct candidate pairs from a long-form banded signature table:
    self-equi-join on (band, key) with ``id_a < id_b``, then distinct.
    ``carry`` columns come back as ``<c>_a`` / ``<c>_b`` for verify
    stages that need per-side payloads (e.g. fingerprints).  Shared by
    the MinHash, SimHash and embedding LSH scale paths so the
    candidate-pair semantics live in one place.

    ``max_bucket_size``: when set, band buckets with more members than
    the cap are excluded from the join (a bucket of m members emits
    m(m-1)/2 pairs — unbounded on boilerplate-heavy corpora).  The
    window count shuffles on the same (band, key) the join itself
    shuffles on, so the guard costs one co-partitioned pass, no new
    shuffle key.  Skipped buckets are observable via
    :func:`oversize_band_buckets` on the same signature table.

    Self-join note: ``exploded`` appears on both join sides, so an
    expensive upstream pipeline (e.g. the 60-vote SimHash aggregate)
    is referenced twice in the logical plan.  AQE's runtime exchange
    reuse covers the shuffle; callers whose signature computation is a
    wide multi-stage pipeline can additionally ``persist()`` it before
    calling (measured a wash at bench scale — 0.94× — so not done
    unconditionally here)."""
    band, key = ident(band_col), ident(key_col)
    if max_bucket_size is not None:
        exploded = (
            exploded.withColumn("_bn", F.expr(f"count(*) OVER (PARTITION BY {band}, {key})"))
            .where(f"_bn <= {int(max_bucket_size)}")
            .drop("_bn")
        )
    sel = ["a.id AS id_a", "b.id AS id_b"]
    for c in carry:
        sel += [f"a.{ident(c)} AS {ident(c + '_a')}", f"b.{ident(c)} AS {ident(c + '_b')}"]
    return (
        exploded.alias("a").join(exploded.alias("b"), F.expr(
            f"a.{band} = b.{band} AND a.{key} = b.{key} AND a.id < b.id"))
        .selectExpr(*sel)
        .distinct()
    )


def simhash_band_pairs(
    sigs: DataFrame,
    bands: int = 4,
    bits: int = 60,
    max_hamming: int = 3,
    id_col: str = "id",
    fp_col: str = "simhash",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded SimHash hamming join — the scale form of near-dup search.

    Split each fingerprint into ``bands`` contiguous chunks; pairs
    agreeing on *any* chunk become candidates via an equi-join on
    ``(band, chunk)``, then exact hamming ≤ ``max_hamming`` verifies.
    By pigeonhole this is EXACT (100% recall) whenever
    ``max_hamming < bands``: a pair differing in ≤ bands-1 bits must
    leave at least one band untouched.  Never an all-pairs join —
    per-bucket cardinality is ~n / 2^(bits/bands) on random bits
    (Manku et al., WWW'07 simhash dedup design).  That assumption fails
    on exact-duplicate-heavy corpora — run exact dedup first (module
    docstring) and/or set ``max_bucket_size`` to cap hot buckets (note:
    capping trades the pigeonhole exactness for boundedness on the
    skipped buckets — account for them via :func:`oversize_band_buckets`).
    """
    if max_hamming >= bands:
        raise ValueError("exactness needs max_hamming < bands (pigeonhole)")
    chunk = bits // bands
    structs = []
    for b in range(bands):
        width = chunk if b < bands - 1 else bits - chunk * (bands - 1)
        mask = (1 << width) - 1
        structs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col(fp_col), b * chunk).bitwiseAND(F.lit(mask)).alias("chunk"),
            )
        )
    e = (
        sigs.select(F.col(id_col).alias("id"), F.col(fp_col).alias("fp"),
                    F.explode(F.array(*structs)).alias("bk"))
        .select("id", "fp", F.col("bk.band").alias("band"), F.col("bk.chunk").alias("chunk"))
    )
    return (
        _banded_candidate_pairs(e, key_col="chunk", carry=("fp",),
                                max_bucket_size=max_bucket_size)
        .withColumn("hamming", hamming64(F.col("fp_a"), F.col("fp_b")))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def plane_sign_matrix(num_planes: int, dim: int) -> list:
    """±1 hyperplane matrix for embedding LSH, computed ONCE on the
    driver: plane ``k``'s sign over dimension ``i`` is the parity of
    the first 4 hex digits of ``md5("plane:<k>:<i>")`` — byte-identical
    to the DuckDB oracle's formula, but evaluated ``planes × dim`` times
    total instead of per row (the round-2 form re-derived every sign
    inside the Catalyst expression: ~10^13 redundant md5 calls at 10^9
    vectors)."""
    return [
        [
            1.0 if int(hashlib.md5(f"plane:{k}:{i}".encode()).hexdigest()[:4], 16) % 2 == 0
            else -1.0
            for i in range(dim)
        ]
        for k in range(num_planes)
    ]


def embedding_lsh_signatures(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 4,
    band_bits: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """Long-form banded random-hyperplane signatures: (id, band, key).

    The ±1 plane matrix comes from :func:`plane_sign_matrix`
    (md5-parity, deterministic, RNG-free, reproduced exactly by the
    DuckDB oracle) and is inlined as constant-foldable literal arrays —
    the physical plan contains ZERO md5 calls.  Bit ``k`` of the
    signature is ``dot(v, plane_k) >= 0`` with the same left-to-right
    fold order as the oracle's ``list_sum``; band ``b``'s join key packs
    bits ``[b*band_bits, (b+1)*band_bits)`` into an int, so each band's
    key takes ``2^band_bits`` values and per-bucket cardinality is
    ``~n / 2^band_bits`` — the equi-join stays linear at 10^9 vectors.

    ``dim`` (the fixed embedding dimensionality) should be passed by
    pipelines that know their data; when omitted it is probed with one
    deterministic MODE-of-sizes aggregate job (the most common vector
    length, ties to the smaller — a handful of corrupt oversized rows
    can't hijack the probe the way a max() would, where one dim-1024
    glitch row would silently exclude an entire dim-768 corpus).  Rows
    whose vector is NULL or whose length differs from ``dim`` are
    EXCLUDED from the signature table (a ragged vector can't hash into
    any bucket honestly — zip_with NULL-padding would silently send
    every malformed row to band key 0, pairing them all with each
    other).  Empty/all-NULL input returns an empty frame.
    """
    v = f"CAST({ident(vec_col)} AS ARRAY<DOUBLE>)"
    if dim is None:
        probe = (
            emb.where(F.col(vec_col).isNotNull())
            .groupBy(F.expr(f"size({v}) AS d")).count()
            .orderBy(F.col("count").desc(), F.col("d").asc())
            .first()
        )
        if probe is None or probe["d"] is None or probe["d"] <= 0:
            return emb.select(
                F.col(id_col).alias("id"),
                F.lit(0).alias("band"),
                F.lit(0).alias("key"),
            ).where(F.lit(False))
        dim = int(probe["d"])
    signs = plane_sign_matrix(bands * band_bits, dim)
    keys = [" + ".join(
        f"(CASE WHEN {dot_sql(v, double_array_sql(signs[b * band_bits + j]))} >= 0"
        f" THEN 1 ELSE 0 END) * {1 << j}" for j in range(band_bits)) for b in range(bands)]
    bands_sql = ", ".join(f"struct({b} AS band, {key} AS key)" for b, key in enumerate(keys))
    return (
        emb.where(f"size({v}) = {int(dim)}")
        .selectExpr(f"{ident(id_col)} AS id", f"explode(array({bands_sql})) AS bk")
        .selectExpr("id", "bk.band", "bk.key")
    )


def embedding_near_dups(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bands: int = 4,
    band_bits: int = 8,
    dim: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dups via multi-band multi-bit hyperplane LSH.

    Candidates = distinct pairs sharing *any* band's ``band_bits``-bit
    signature (equi-join on ``(band, key)``, never a cross join); each
    candidate is then verified with exact cosine.  Recall for pairs at
    cosine ``c`` is ``1-(1-p^band_bits)^bands`` with
    ``p = 1 - arccos(c)/pi``; tune ``bands`` up / ``band_bits`` down for
    recall, the reverse for precision.  Vectors are re-joined only for
    the (small) candidate set, so the wide embedding column is never
    duplicated through the explode.  ``max_bucket_size`` caps hot band
    buckets (module docstring contract).
    """
    sigs = embedding_lsh_signatures(emb, id_col, vec_col, bands, band_bits, dim=dim)
    pairs = _banded_candidate_pairs(sigs, max_bucket_size=max_bucket_size)
    v = f"CAST({ident(vec_col)} AS ARRAY<DOUBLE>)"
    return (
        pairs.join(emb.selectExpr(f"{ident(id_col)} AS id_a", f"{v} AS va"), "id_a")
        .join(emb.selectExpr(f"{ident(id_col)} AS id_b", f"{v} AS vb"), "id_b")
        .withColumn("cosine", F.expr(cosine_sql("va", "vb")))
        .where(f"cosine >= {float(threshold)!r}D")
        .select("id_a", "id_b", "cosine")
    )


def incremental_new_docs(
    batch: DataFrame,
    history: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Snapshot-delta dedup: which documents in a new ``batch`` are
    genuinely new relative to an already-ingested ``history`` corpus?

    The production shape of exact dedup — a pipeline never re-hashes
    the full 100 TB corpus per crawl; it dedups the daily batch (a)
    internally (keep the lowest id per content hash, same rule as
    ``exact_dedup``) and (b) against the history's content-hash set
    via a LEFT ANTI join.  Returns the surviving batch rows plus
    their ``content_hash``.

    ``history`` may be raw documents (any columns; only ``text_col``
    is read) or a precomputed hash set — pass a one-column DataFrame
    named ``content_hash`` to skip re-hashing (the control-table
    pattern: persist the hash set once, anti-join forever).

    Scale notes: one shuffle of the batch on the 16-byte hash key for
    the internal window + one hash anti-join against history.  At
    10^12 history rows the anti-join is a shuffled hash join on
    uniform md5 keys (bucketed history storage makes it co-located);
    AQE turns it into a BroadcastHashJoin when the history hash set is
    under the broadcast threshold (early corpus, per-source slices).
    """
    if "content_hash" in history.columns:
        seen = history.select("content_hash").distinct()
    else:
        seen = history.select(
            F.md5(F.col(text_col)).alias("content_hash")).distinct()
    batch_first = batch.withColumns({
        "content_hash": F.md5(F.col(text_col)),
        "_rn": F.expr(copy_rank_sql(text_col, id_col)),
    }).where("_rn = 1").drop("_rn")
    return batch_first.join(seen, on="content_hash", how="left_anti")
