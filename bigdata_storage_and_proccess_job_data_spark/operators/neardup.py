"""Near-duplicate detection: MinHash+LSH, SimHash, n-gram Jaccard.

Designed for 100 TB corpora:
- signatures are computed per-row with native array expressions (no
  Python), so the scan stays in whole-stage codegen;
- candidate generation is a bucket equi-join on (band, band_hash) --
  never an all-pairs cross join; shuffle keys are fixed-width longs;
- exact verification (Jaccard) runs only on bucket-collision pairs.

Semantic anchor: the reference's exact dropDuplicates (P3,
spark_batch_v2.py:49) generalized to near-dup, per the north-star scope
(SURVEY.md §2.6).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.functions import text


def minhash_signature(
    shingles: Column, num_hashes: int = 32, seed: int = 42
) -> Column:
    """MinHash signature as array<bigint>: for each of ``num_hashes``
    seeded hash functions, the min of xxhash64(shingle, seed+i) over the
    shingle set. Empty shingle set -> Long.MAX sentinels (callers filter
    empty inputs upstream).

    SINGLE fold over the shingle array computing all hash lanes at once
    (zip_with + least accumulator). The naive per-lane formulation
    (num_hashes separate array_min(transform(...)) columns) re-inlines
    the shingle-building subtree into every lane after projection
    collapse -- measured 22x slower at sf0.1.
    """
    init = F.expr(f"array_repeat(CAST({2**63 - 1} AS BIGINT), {num_hashes})")
    idx = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    return F.aggregate(
        shingles,
        init,
        lambda acc, s: F.zip_with(
            acc,
            F.transform(idx, lambda i: F.xxhash64(s, i + F.lit(seed))),
            lambda a, b: F.least(a, b),
        ),
    )


def lsh_bands(signature: Column, bands: int, rows: int) -> Column:
    """Split a minhash signature into ``bands`` bands of ``rows`` values;
    each band becomes (band_index, band_hash) where band_hash =
    xxhash64 over the band's joined values. Returns
    array<struct<band:int, band_hash:bigint>> for explode.

    Built as ONE transform over the band indices so the signature
    subtree appears once -- a per-band Python loop would re-inline the
    whole minhash fold into every band after projection collapse (same
    pathology as minhash_signature's naive form)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band"),
            F.xxhash64(
                F.array_join(
                    F.transform(
                        F.slice(signature, b * rows + 1, rows),
                        lambda v: v.cast("string"),
                    ),
                    ",",
                )
            ).alias("band_hash"),
        ),
    )


def sized_shingles(
    df: DataFrame, id_col: str, content_col: str, ngram: int
) -> DataFrame:
    """The shared (_id, _sh, _n) shingle frame every near-dup path
    builds on: distinct word n-grams per doc, empty docs dropped, set
    size attached. One definition so the exact-verify, signature, and
    incremental paths can never drift apart on shingle hygiene."""
    return (
        df.select(
            F.col(id_col).alias("_id"),
            F.array_distinct(text.word_ngrams(content_col, ngram)).alias(
                "_sh"
            ),
        )
        .filter(F.size("_sh") > 0)
        .withColumn("_n", F.size("_sh"))
    )


def minhash_index(
    df: DataFrame,
    id_col: str,
    content_col: str,
    ngram: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    shingle_frame: DataFrame | None = None,
) -> DataFrame:
    """The banded LSH index frame: one (_id, band, band_hash) row per
    band per document -- the PERSISTABLE dedup artifact. Written to
    storage once per corpus snapshot (a versioned table is the natural
    home) it makes dedup INCREMENTAL: a new ingest batch computes
    signatures for its own documents only and band-joins against the
    stored index (incremental_dedup_pairs), instead of re-signing the
    full corpus -- at 100 TB the difference between touching |batch|
    and |corpus| every day. Append each accepted batch's index rows to
    keep it current. All parameters (ngram/num_hashes/bands/seed) must
    match between index build and probe -- signatures from different
    parameters never collide meaningfully (the frame carries no
    parameter metadata; when persisting the index, store them alongside,
    e.g. in the table path or a sidecar)."""
    if num_hashes % bands != 0:
        # silently truncating trailing lanes would weaken every band
        # below the requested strength with no failure signal
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes})"
        )
    rows = num_hashes // bands
    if shingle_frame is not None:
        shingles = shingle_frame.select("_id", "_sh")
    else:
        # sized_shingles' array_distinct is a no-op for the signature
        # (a duplicated shingle can't change any per-lane minimum)
        shingles = sized_shingles(df, id_col, content_col, ngram)
    sigs = shingles.select(
        "_id", minhash_signature(F.col("_sh"), num_hashes, seed).alias("_sig")
    )
    return sigs.select(
        "_id", F.explode(lsh_bands(F.col("_sig"), bands, rows)).alias("b")
    ).select("_id", "b.band", "b.band_hash")


def _materialized_release(result: DataFrame, caches: list[DataFrame]) -> DataFrame:
    """The deterministic cache-release tail shared by the dedup pair
    functions (the bm25_topk pattern generalized to unbounded results):
    eagerly materialize ``result`` EXECUTOR-side
    (localCheckpoint -- never a driver collect; pair sets are
    output-sized, not k-bounded), then unpersist every internal cache.
    The returned frame owns the only remaining storage (its checkpoint
    blocks, result-sized); dropping the reference lets the
    ContextCleaner reclaim them -- so a long-lived session running
    repeated batches accumulates nothing across calls."""
    try:
        out = result.localCheckpoint(eager=True)
    finally:
        for c in caches:
            c.unpersist()
    return out


def minhash_candidates(
    df: DataFrame,
    id_col: str,
    content_col: str,
    ngram: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    shingle_frame: DataFrame | None = None,
    caches_out: list[DataFrame] | None = None,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b) from banded minhash signatures.
    ``shingle_frame`` (columns _id, _sh) lets callers reuse an already
    materialized shingle set instead of re-tokenizing.

    shingle -> signature -> band explode -> self-equi-join on
    (band, band_hash). The join is on a 12-byte key, so at 100 TB the
    shuffle moves only (key, id) pairs; document bodies never shuffle.

    The banded frame is persisted before the self-join: lineage-based
    self-joins otherwise recompute the signature fold on both sides
    (2x the dominant cost). At cluster scale the equivalent is
    materializing signatures to storage once per corpus snapshot
    (minhash_index is exactly that artifact).

    Cache ownership: lazy by default -- the banded cache lives until
    session teardown (one-shot jobs; registered queries keep the full
    lazy plan visible to the plan-hygiene gate). Pass ``caches_out``
    to hand cache ownership to a composing caller (minhash_dedup_pairs
    does this)."""
    banded = minhash_index(
        df, id_col, content_col, ngram, num_hashes, bands, seed,
        shingle_frame=shingle_frame,
    ).persist()
    if caches_out is not None:
        caches_out.append(banded)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b")
        )
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    content_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT n-gram Jaccard >= threshold pairs with prefix filtering
    (Bayardo et al., "Scaling Up All Pairs Similarity Search", WWW'07):

    1. order each doc's distinct shingles by global rarity (df asc);
    2. index only the first n - ceil(t*n) + 1 shingles per doc -- any
       pair with jaccard >= t MUST collide in these prefixes, so
       completeness is preserved while the inverted index skips the
       frequent shingles that cause quadratic pair blowup (a naive
       shingle self-join is O(sum df^2); on a small-vocabulary corpus
       that is ~all-pairs);
    3. verify candidates exactly via array_intersect on the full sets.

    The only wide ops are: one groupBy for document frequencies, one
    groupBy to re-sort shingles per doc, the prefix equi-join, and two
    hash joins to re-attach full shingle arrays to the (small) candidate
    set. No driver collects.
    """
    sized = sized_shingles(df, id_col, content_col, 2)

    exploded = sized.select("_id", "_n", F.explode("_sh").alias("shingle"))
    freq = exploded.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    # per-doc shingles sorted rarest-first (global total order: df, text)
    ranked = (
        exploded.join(freq, "shingle")
        .groupBy("_id", "_n")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_df"), F.col("shingle")))
            ).alias("_ranked")
        )
    )
    prefix_len = (F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n")) + 1).cast(
        "int"
    )
    prefix = ranked.select(
        "_id",
        F.explode(
            F.transform(
                F.slice("_ranked", F.lit(1), prefix_len),
                lambda s: s.getField("shingle"),
            )
        ).alias("shingle"),
    )
    cands = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    return verify_jaccard(cands, sized, threshold)


def verify_jaccard(
    cands: DataFrame,
    sized: DataFrame,
    threshold: float,
    sized_b: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard on candidate pairs only: re-attach the full shingle
    arrays with two hash joins, intersect natively. ``sized`` must have
    (_id, _sh, _n). Cost is O(|candidates|), never all-pairs.

    ``sized_b`` (same columns) resolves id_b from a DIFFERENT frame --
    the cross-set case (incremental_dedup_pairs), where id_a is a new
    doc and id_b a corpus doc; with one shared frame, an id present in
    both sets would join twice and duplicate every pair it appears in."""
    verified = (
        cands.join(
            sized.select(
                F.col("_id").alias("id_a"),
                F.col("_sh").alias("_sha"),
                F.col("_n").alias("n_a"),
            ),
            "id_a",
        )
        .join(
            (sized_b if sized_b is not None else sized).select(
                F.col("_id").alias("id_b"),
                F.col("_sh").alias("_shb"),
                F.col("_n").alias("n_b"),
            ),
            "id_b",
        )
        .withColumn(
            "n_inter", F.size(F.array_intersect("_sha", "_shb")).cast("long")
        )
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
    )
    return verified.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "n_inter", "jaccard"
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    content_col: str,
    ngram: int = 2,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    materialize: bool = False,
) -> DataFrame:
    """The 100 TB near-dup path: MinHash+LSH candidates, then exact
    Jaccard verification on candidates ONLY. Candidate volume scales
    with the number of true near-dups (plus the banding false-positive
    rate), not with corpus size squared -- unlike any exact threshold
    join, which degenerates on low-diversity corpora.

    The shingle frame is tokenized ONCE, persisted, and shared by the
    signature path and the verification path (tokenization dominates
    signature cost on short documents).

    Cache ownership: lazy by default (caches live for the one-shot job;
    the registered minhash_near_dups query needs the lazy plan for the
    hygiene gate). ``materialize=True`` = executor-materialized result,
    all internal caches (shingles + banded signatures) released before
    returning -- the repeated-batch mode (_materialized_release)."""
    sized = sized_shingles(df, id_col, content_col, ngram).persist()
    caches: list[DataFrame] = [sized]
    cands = minhash_candidates(
        df, id_col, content_col, ngram, num_hashes, bands, seed,
        shingle_frame=sized, caches_out=caches if materialize else None,
    )
    verified = verify_jaccard(cands, sized, threshold)
    if not materialize:
        return verified
    return _materialized_release(verified, caches)


def incremental_dedup_pairs(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    corpus_index: DataFrame,
    id_col: str,
    content_col: str,
    ngram: int = 2,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    materialize: bool = True,
) -> DataFrame:
    """Near-dups of a NEW ingest batch against an EXISTING corpus
    without recomputing any corpus signature: the daily-ingest shape.
    ``corpus_index`` is a stored minhash_index frame (same
    ngram/num_hashes/bands/seed -- the caller's contract); only the new
    batch is shingled and signed, candidates come from ONE equi-join of
    the new bands against the index, and exact-Jaccard verification
    re-tokenizes ONLY the corpus documents that appear as candidates
    (semi-join slice -- candidate volume scales with true dup density,
    so the touched corpus slice is batch-sized, not corpus-sized).

    Returns (id_a=new doc, id_b=corpus doc, n_inter, jaccard) pairs at
    or above ``threshold``. Within-batch duplicates are NOT covered --
    run minhash_dedup_pairs on the (small) batch for those. Id spaces
    must be disjoint (same-id rows are skipped as self-matches, the
    re-ingestion case).

    After accepting the batch, append minhash_index(new_docs) rows to
    the stored index so the next batch sees this one.

    Persist contract (deterministic release): the new
    batch's shingle cache feeds both the signing and the verification
    consumers, and the candidate frame feeds both the corpus-slice
    semi-join and verification (without its cache the index band-join
    would execute once per consumer). This function is the
    REPEATED-batch shape by nature (one call per ingest day in one
    long-lived session), so ``materialize=True`` is the DEFAULT: the
    verified pairs are eagerly materialized executor-side and every
    internal cache is unpersisted before returning
    (_materialized_release) -- nothing accumulates across daily calls.
    Pass ``materialize=False`` only to compose the lazy plan (plan
    inspection, tests); then the two caches live until session
    teardown."""
    new_sized = sized_shingles(new_docs, id_col, content_col, ngram).persist()
    cands = (
        minhash_index(
            new_docs, id_col, content_col, ngram, num_hashes, bands, seed,
            shingle_frame=new_sized,
        )
        .alias("n")
        .join(
            corpus_index.alias("c"),
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.band_hash") == F.col("c.band_hash"))
            & (F.col("n._id") != F.col("c._id")),
        )
        .select(F.col("n._id").alias("id_a"), F.col("c._id").alias("id_b"))
        .distinct()
        .persist()
    )
    touched = cands.select(F.col("id_b").alias(id_col)).distinct()
    corpus_sized = sized_shingles(
        corpus_docs.join(touched, id_col, "left_semi"),
        id_col, content_col, ngram,
    )
    # id_b resolves against the CORPUS frame only (sized_b): a batch id
    # that also exists in corpus_docs (re-probe after index append)
    # must not contribute a second shingle row and duplicate pairs
    verified = verify_jaccard(cands, new_sized, threshold, sized_b=corpus_sized)
    if not materialize:
        return verified
    return _materialized_release(verified, [new_sized, cands])


def simhash64(hashes: Column, n: Column) -> Column:
    """64-bit SimHash from a precomputed token-hash array (callers hash
    tokens once with xxhash64 in a prior projection so the 64 bit-folds
    below don't recompute the hashes). Per bit j: set the result bit when
    more than half the token hashes have bit j set (equivalent to the
    classic +1/-1 sum > 0). Returns BIGINT."""
    from functools import reduce

    def bit_set(j: int):
        # closure factory: a one-arg lambda, since PySpark treats two-arg
        # higher-order-function lambdas as (element, index)
        return lambda h: F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1

    bits = []
    for j in range(64):
        count_set = F.size(F.filter(hashes, bit_set(j)))
        bits.append(
            F.when(
                count_set * 2 > n, F.shiftleft(F.lit(1).cast("long"), j)
            ).otherwise(F.lit(0).cast("long"))
        )
    return reduce(lambda a, b: a.bitwiseOR(b), bits)


def md5_hash60(t: Column) -> Column:
    """60-bit token hash from the first 15 hex chars of md5 -- slower
    than xxhash64 but reproducible in DuckDB (md5_number_upper with a
    byte swap), which is what lets simhash get an exact cross-engine
    oracle. 60 bits keep the value positive in a signed BIGINT on both
    engines, sidestepping sign/shift divergence."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def simhash_candidates(
    df: DataFrame,
    id_col: str,
    content_col: str,
    token_hash: Callable[[Column], Column] | None = None,
) -> DataFrame:
    """SimHash near-dup candidates: band the 64-bit simhash into 4
    16-bit chunks (pigeonhole: hamming <= 3 guarantees a shared band;
    the hamming <= 8 filter trades recall), bucket-join on equal chunks,
    then filter by exact hamming distance via bit_count(xor).

    ``token_hash`` maps a token Column to a BIGINT hash Column; default
    xxhash64 (the scale path -- cheapest JVM hash). Pass md5_hash60 when
    the run must be reproducible against a non-Spark engine."""
    width = 16
    th = token_hash or F.xxhash64
    hashed = df.select(
        F.col(id_col).alias("_id"),
        F.transform(
            text.tokens(F.lower(F.col(content_col))), lambda t: th(t)
        ).alias("_h"),
    ).withColumn("_n", F.size("_h"))
    sims = hashed.select(
        "_id", simhash64(F.col("_h"), F.col("_n")).alias("_sim")
    )
    banded = sims.select(
        "_id",
        "_sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("int").alias("band"),
                        F.shiftrightunsigned(F.col("_sim"), b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("chunk"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("b"),
    ).select("_id", "_sim", "b.band", "b.chunk")
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._sim").alias("sim_a"),
            F.col("b._sim").alias("sim_b"),
        )
        .distinct()
    )
    return pairs.withColumn(
        "hamming",
        F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int"),
    ).filter(F.col("hamming") <= 8).select("id_a", "id_b", "hamming")


def connected_components(
    pairs: DataFrame,
) -> DataFrame:
    """Transitive closure of a near-dup pair list: (id, component) where
    component = min id reachable through any chain of pairs. Pair ops
    (minhash_dedup_pairs, simhash_candidates, jaccard_pairs) say A~B and
    B~C; keeping one doc per GROUP needs {A,B,C} as one cluster -- this
    is the cluster step of every dedup pipeline.

    Distributed min-label propagation WITH pointer jumping: each
    iteration every vertex takes the min label over itself and its
    neighbors (one shuffle join + one groupBy), then compresses by one
    label-graph hop (label := label(label) -- path doubling, the
    classic PRAM shortcut). Without the jump, convergence is O(cluster
    diameter) rounds, which melts on chain-shaped components (a
    geometric sparse graph at low similarity thresholds grows a giant
    component with diameter in the hundreds -- semantic_dedup at sf0.1
    hits exactly this at 20 rounds); with it, the label
    distance to the component min doubles per round, so convergence is
    O(log diameter). Quasi-clique banding clusters still terminate in
    2-3 rounds; chains of length L need ~log2(L). Each round is checked
    by an exact changed-row count; raises if 20 rounds don't
    converge. Invariant: a vertex's label is always the id of some
    vertex in its own component (neighbor-min picks a neighbor's label,
    the jump picks that vertex's label), and at fixpoint adjacent
    labels are equal, so every component carries its min id exactly --
    the recursive-CTE cross-check and union-find twins pin this.

    Lineage management (the classic iterative-algorithm trap): persisting
    alone caches the DATA but the logical plan still accumulates one
    join+agg layer per round, so Catalyst re-analyzes an ever-deeper
    tree (the final plan text here held 2000+ scan nodes before this
    fix). But localCheckpoint-ing EVERY round has the opposite problem:
    DataFrame.unpersist() cannot release checkpoint blocks, so
    superseded rounds linger in executor storage until GC. The hybrid is
    GraphFrames' pattern: persist each round and unpersist the
    superseded frame deterministically, with a localCheckpoint every
    ``_CHECKPOINT_EVERY`` rounds to cut lineage -- plan depth is bounded
    by the interval, and only the (few, tiny (id, component)) checkpoint
    frames wait for the ContextCleaner. Executor-local checkpoint
    storage is the remaining trade (an executor loss mid-run fails the
    job; rounds are few, a rerun is cheap -- switch to reliable
    checkpoint() if that ever matters).

    Vertices appearing in no pair are their own component and are NOT in
    the output (join back against the corpus for singletons).
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    _CHECKPOINT_EVERY = 3
    persisted_prev: DataFrame | None = None
    try:
        for i in range(20):
            neighbor_min = (
                edges.join(labels, edges.dst == labels.id)
                .groupBy("src")
                .agg(F.min("component").alias("_nmin"))
            )
            new_labels = (
                labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
                .select(
                    "id",
                    F.least(
                        F.col("component"), F.coalesce("_nmin", F.col("component"))
                    ).alias("component"),
                )
            )
            # pointer jumping: one label-graph hop (label := label of the
            # vertex the label names). Labels only decrease and always
            # name a same-component vertex, so this is safe -- and it
            # turns O(diameter) convergence into O(log diameter).
            jump = new_labels.select(
                F.col("id").alias("component"),
                F.col("component").alias("_jc"),
            )
            new_labels = new_labels.join(jump, "component", "left").select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce("_jc", F.col("component")),
                ).alias("component"),
            )
            if (i + 1) % _CHECKPOINT_EVERY == 0:
                new_labels = new_labels.localCheckpoint()
                newly_persisted = None
            else:
                new_labels = new_labels.persist()
                newly_persisted = new_labels
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.component") != F.col("o.component"))
                .count()
            )
            # the count materialized new_labels, so the prior round's
            # persisted frame can be released deterministically
            if persisted_prev is not None:
                persisted_prev.unpersist()
            persisted_prev = newly_persisted
            labels = new_labels
            if changed == 0:
                return labels.select("id", "component")
        raise RuntimeError(
            "connected_components did not converge in 20 rounds"
        )
    finally:
        edges.unpersist()
