"""Extended-surface queries (dedup / similarity / text / windows) with
DuckDB oracles.

Cross-engine determinism strategy per family:

- fuzzy dedup: Spark generates candidates with MinHash-LSH / SimHash-block
  joins (the scale path) and verifies exactly; the oracle computes the exact
  all-pairs answer directly (feasible at oracle SF). They agree unless LSH
  misses a pair — parameters put that probability below 1e-14 per pair.
- SimHash values themselves are replayed in SQL: identical md5-based token
  hashes, identical ±1 bit sums, identical bit packing.
- doubles (cosine, Jaccard, quality): both engines execute the same operand
  order (left folds / pinned parentheses) over the same inputs → identical
  bits, no rounding needed.
- money/value sums: DECIMAL inside, DOUBLE out (exact, order-independent).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filmdatawarehouse_spark.io.sources import read_table, spread_mid_plan
from filmdatawarehouse_spark.operators import dedup as dd
from filmdatawarehouse_spark.operators import text as tx
from filmdatawarehouse_spark.operators.similarity import (
    cosine_range_search,
    cosine_topk,
    ivf_topk,
)
from filmdatawarehouse_spark.operators.multimodal import (
    attach_text_payload,
    byte_stats,
    payload_meta,
)
from filmdatawarehouse_spark.operators.frequent import MG_COUNTERS
from filmdatawarehouse_spark.operators.skew import salted_group_count, salted_join
from filmdatawarehouse_spark.queries.registry import Entry
from filmdatawarehouse_spark.streaming.windows import (
    session_windows,
    sliding_window_counts,
    tumbling_window_counts,
)

# ---------------------------------------------------------------------------
# thresholds (calibrated on the corpus: word-Jaccard is bimodal <0.1 / >0.97;
# max pairwise cosine is ~0.51)
# ---------------------------------------------------------------------------
JACCARD_T = 0.8
NGRAM_T = 0.8
COSINE_T = 0.4
HAMMING_MAX = 3
TOPK_K = 5
N_QUERY_VECS = 10
RANGE_T = 0.3  # above the bulk of background cosine (~max 0.51 pairwise)

# ---------------------------------------------------------------------------
# Spark builders
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_dup_groups(read_table(spark, sf_dir, "documents"))


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No eager n_docs count at build time (VERDICT r04 item 2): the
    # hot-bucket guard's count-gated census sizes itself lazily inside the
    # query; pass n_docs only when a cheap bound is already in hand.
    # Served from the shared generation-keyed memo: five queries consume
    # this exact frame (see minhash_pairs_shared).
    return minhash_pairs_shared(spark, sf_dir)


def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return dd.ngram_jaccard_pairs(d, threshold=NGRAM_T)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return dd.simhash_pairs(d, hamming_max=HAMMING_MAX)


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.embedding_cosine_pairs(
        read_table(spark, sf_dir, "embeddings"), threshold=COSINE_T
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS, not just pairs: connected components over
    the MinHash-verified pair graph — the dedup decision a pipeline keeps
    (one survivor per component). Iterative min-label propagation in Spark;
    recursive transitive closure in the oracle."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_pairs_shared(spark, sf_dir)
    return dd.dup_clusters(docs.select("doc_id"), pairs)


def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME components as ``q_dedup_clusters`` via the O(log n)-round
    large-star/small-star contraction (``dd.star_contraction_clusters``)
    — the high-diameter-safe path, certified against the identical
    recursive-transitive-closure oracle."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_pairs_shared(spark, sf_dir)
    return dd.star_contraction_clusters(docs.select("doc_id"), pairs)



VOCAB_K = 1000


def q_text_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary induction + integer encoding — the tokenize/encode step
    of a training pipeline: top-``VOCAB_K`` words by corpus frequency
    (count desc, word asc — fully deterministic) become ids 1..K by that
    same order; every document is re-emitted as its id sequence, OOV
    words as -1. Emitted as a CSV string so the cross-engine hash
    compares scalars, not nested arrays.

    Scale shape: vocab = two-phase count + TakeOrderedAndProject (never a
    global sort of the word histogram); the rank window runs over the K
    survivors only. Encoding is posexplode -> BROADCAST join against the
    K-row vocab -> one groupBy(doc) re-assembly; the corpus shuffles once
    on doc_id, the vocab never shuffles.
    """
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    )
    topk = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("word").asc())
        .limit(VOCAB_K)
    )
    vocab = topk.select(
        "word",
        F.row_number()
        .over(Window.orderBy(F.col("c").desc(), F.col("word").asc()))
        .alias("vid"),
    )
    enc = (
        words.join(F.broadcast(vocab), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("pos"),
                                F.coalesce(F.col("vid"), F.lit(-1)).alias("vid"),
                            )
                        )
                    ),
                    lambda x: x.vid.cast("string"),
                ),
            ).alias("ids_csv"),
        )
    )
    return enc



def q_text_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc word-distribution entropy (operators/text.py:word_entropy)
    — token-diversity quality scoring with the byte_stats pinned-fold
    determinism recipe."""
    return tx.word_entropy(
        read_table(spark, sf_dir, "documents").select("doc_id", "text")
    )



def q_text_word_entropy_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-native production twin of ``text_word_entropy``
    (operators/text.py:word_entropy_native): explode → groupBy → F.log2,
    no Python in the plan. Spark's own log2/summation order differs from
    the libm pinned fold in the last ulps, so the certification contract
    is the 1e-9 grid: BOTH engines round the entropy to 9 dp (exact int
    columns are compared raw). The unrounded twins are property-tested to
    |Δ| < 1e-9 in tests/test_properties.py."""
    out = tx.word_entropy_native(
        read_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return out.select(
        "doc_id",
        "n_words",
        "n_distinct_words",
        F.round("word_entropy", 9).alias("word_entropy"),
    )


def q_multimodal_byte_stats_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-native production twin of ``multimodal_byte_stats``
    (operators/multimodal.py:byte_stats_native), certified on the same
    1e-9 rounding grid as ``text_word_entropy_native``."""
    from filmdatawarehouse_spark.operators.multimodal import byte_stats_native

    out = byte_stats_native(
        attach_text_payload(read_table(spark, sf_dir, "documents"))
    )
    return out.select(
        "asset_id",
        "n_bytes",
        "sum_bytes",
        "n_distinct_bytes",
        F.round("mean_byte", 9).alias("mean_byte"),
        F.round("byte_entropy", 9).alias("byte_entropy"),
    )


def q_text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency heavy hitters WITHOUT a corpus-sized shuffle
    (operators/frequent.py): zero-shuffle per-partition Misra–Gries
    candidates, then an exact recount of candidates only. The answer is
    exact and partitioning-independent (the MG union provably contains
    every word with count > N/k), so the oracle is the plain full-histogram
    SQL — any lost heavy hitter hash-fails."""
    from filmdatawarehouse_spark.operators.frequent import heavy_hitters_exact

    return heavy_hitters_exact(
        read_table(spark, sf_dir, "documents").select("text")
    )


# calibrated on the corpus: df<=20 leaves no shared terms at all (every
# cross-doc term has df>20); df<=50 admits the near-dup clusters' shared
# vocabulary, where cosine is bimodal (~1.0 for dups, ~0 otherwise)
SPARSE_DF_CAP = 50
SPARSE_COS_T = 0.5

def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram log-probability — the CCNet-style LM
    quality proxy: score(d) = (1/|d|) Σ_w ln(c(w)/N) under the corpus's
    own unigram MLE. Low scores flag rare-token noise; implausibly high
    scores flag boilerplate.

    Cross-engine determinism uses BOTH established recipes at once: the
    ``ln`` runs in a zero-shuffle Arrow stage over the (vocab-sized)
    frequency frame with glibc ``math.log`` (= DuckDB's ln, bit-identical
    — the ``text_tfidf`` trick), and the per-doc sum goes through
    DECIMAL(28,18) so Spark's partial-aggregation order can't drift the
    hash (the money-sum trick). The double→decimal CAST itself rounds
    differently between engines in the last decimal ulp (measured ≤ 9e-16
    on the mean), so the certified contract is the 1e-12 grid — both
    sides round the mean to 12 dp, like the native-twin oracles.

    Scale shape: two aggregates (corpus vocab, per-doc sum) + one
    broadcast join of the vocab-sized logp frame onto the token stream —
    the corpus shuffles once on doc_id.

    DELIBERATE 2-SCAN (r05 verdict item 3 decision): the token stream
    (``words``) is derived twice — once feeding the vocab aggregate, once
    feeding the per-doc scoring join — and is intentionally NOT
    persisted. Caching it would materialize a corpus-sized exploded frame
    (≥ 1.3× corpus bytes: every token re-keyed by doc_id) that cannot fit
    executor storage at 100 TB, so it would spill — i.e. pay a full write
    + read of MORE bytes than the second parquet scan costs, while also
    evicting the frames worth keeping (the vocab-sized ``freq``, which IS
    persisted below). Re-scanning parquet re-applies column pruning to
    (doc_id, text) and re-uses the page cache at certification SF. Same
    tradeoff as the containment query's persist policy, documented there.
    """
    import math

    import pandas as pd

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    from filmdatawarehouse_spark.operators.cache import managed_persist

    # vocab-sized frame used by the total AND the logp stage — persist so
    # the corpus token stream aggregates once, not twice
    freq = managed_persist(
        words.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    )
    total = freq.agg(F.sum("c").alias("n_total"))

    def logp_stage(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["logp"] = pd.Series(
                [math.log(c / n) for c, n in zip(pdf["c"], pdf["n_total"])],
                dtype="float64",
            )
            yield pdf[["word", "logp"]]

    logp = freq.crossJoin(F.broadcast(total)).mapInPandas(
        logp_stage, "word string, logp double"
    )
    return (
        words.join(F.broadcast(logp), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum(F.col("logp").cast("decimal(28,18)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("mean_logprob"),
        )
    )


CONTAIN_T = 0.8
CONTAIN_DF_CAP = 50


def _docs_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents").select("doc_id", "text")


def _word_shingle_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) rows of distinct word 3-shingles — the shared
    derivation for the containment and prefix-filter pair queries. Uses
    ``operators/dedup.word_shingles`` with the token array BOUND as a
    column first: an inline ``split(...)`` referenced inside the
    per-shingle lambda is re-evaluated by Catalyst at every reference,
    turning shingling quadratic (the anti-pattern word_shingles'
    docstring pins; both queries carried it until r06). Short/empty docs
    get an empty array → no rows; per-doc distinctness comes from
    word_shingles' array_distinct, so no row-level distinct is needed."""
    from filmdatawarehouse_spark.io.sources import spread_unsplittable_scan
    from filmdatawarehouse_spark.operators.dedup import word_shingles

    # the shared frame is built once per cold query from a one-task
    # scan: ~1 s of single-task split+shingle+explode work
    docs = spread_unsplittable_scan(_docs_scan(spark, sf_dir), "doc_id")
    with_toks = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("_toks")
    )
    return with_toks.select(
        "doc_id", F.explode(word_shingles(F.col("_toks"))).alias("shingle")
    )


def q_text_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment detection — the SUB-document duplication case
    symmetric Jaccard misses: containment(A,B) = |A∩B| / min(|A|,|B|) over
    word 3-shingle sets, so a short document pasted inside a long one
    still scores ~1 while its Jaccard is tiny.

    Candidate generation is an inverted-index join over shingles with a
    document-frequency cap (``CONTAIN_DF_CAP``), the deterministic posting
    bound (same role as the LSH hot-bucket cap): ubiquitous boilerplate
    shingles leave the index, every posting list is ≤ cap, the pair join
    is ≤ cap² per shingle. Sizes and intersections are both over the KEPT
    shingle sets, so the score is exact containment of the df-truncated
    sets and the oracle replays it verbatim.

    Determinism: exact int intersection/size counts; one double division.
    """
    from filmdatawarehouse_spark.operators.cache import managed_persist

    # two persists, both load-bearing: the root shingle frame (shared
    # with the PPJoin builder via the generation-keyed memo — r10) feeds
    # the df census AND the semi-join, and kept feeds THREE consumers
    # (sizes + both pair-join sides) — leaving either unpersisted
    # re-executes its subtree per consumer
    sh = shingle_rows_shared(spark, sf_dir)
    # census stays INLINE over the cached sh (not a shared persisted
    # frame): r10 measured that persisting it replaces the broadcast
    # census joins with SortMergeJoin + 2 exchanges in the PPJoin
    # builder (cached-relation stats suppress the broadcast) — the plan
    # audit caught it; one aggregate over cached sh is the cheaper shape
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= CONTAIN_DF_CAP)
        .select("shingle")
    )
    kept = sh.join(rare, "shingle", "left_semi")
    # the pair self-join below explodes to C(df,2) rows per shingle:
    # partition the persisted frame by the join key so both self-join
    # sides inherit the layout (no extra exchange in the join itself)
    kept = managed_persist(
        spread_mid_plan(kept, "shingle", scan=_docs_scan(spark, sf_dir))
    )
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = kept.select(F.col("shingle"), F.col("doc_id").alias("doc_id_a"))
    b = kept.select(F.col("shingle"), F.col("doc_id").alias("doc_id_b"))
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_id_a"), F.col("n_sh").alias("n_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_id_b"), F.col("n_sh").alias("n_b")
    )
    return (
        inter.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            "n_inter",
            "n_a",
            "n_b",
            (
                F.col("n_inter").cast("double")
                / F.least("n_a", "n_b").cast("double")
            ).alias("containment"),
        )
        .filter(F.col("containment") >= F.lit(CONTAIN_T))
    )


def q_text_sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse bag-of-words cosine similarity via an inverted-index join —
    the IR-style sparse near-dup/retrieval primitive: document pairs whose
    RARE-term TF vectors have cosine ≥ ``SPARSE_COS_T``.

    Rare-term cutoff: only terms with document frequency ≤ ``SPARSE_DF_CAP``
    enter the index, which (a) bounds every posting list, making the
    posting self-join ≤ DF_CAP² rows per term — the deterministic cousin
    of the LSH hot-bucket cap — and (b) is the semantics you want
    (stopwords carry no similarity signal). Norms are over the SAME kept
    vector, so this is exact cosine of the df-truncated vectors; the
    oracle applies the identical cutoff.

    Scale shape: two shuffles that matter — postings on term (bounded
    lists), pair-contribution sum on (a, b) (map-side combined). No
    all-pairs stage exists at any corpus size.

    Determinism: dot and norm² are exact int sums; sqrt is IEEE
    correctly-rounded in both engines; one pinned divide. No logs — the
    tf-idf ulp problem (see ``q_text_tfidf``) is designed out.
    """
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("term"),
    ).filter(F.length("term") > 0)
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    rare = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= SPARSE_DF_CAP)
        .select("term")
    )
    from filmdatawarehouse_spark.operators.cache import managed_persist

    # kept (the df-pruned postings) feeds the norm aggregate AND both
    # sides of the pair join — persist the pruned frame (far smaller than
    # the corpus) instead of re-deriving it three times
    kept = managed_persist(tf.join(rare, "term", "left_semi"))
    norms = kept.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("tf") * F.col("tf")).cast("double")).alias("nrm")
    )
    a = kept.select(
        F.col("term"),
        F.col("doc_id").alias("doc_id_a"),
        F.col("tf").alias("tf_a"),
    )
    b = kept.select(
        F.col("term"),
        F.col("doc_id").alias("doc_id_b"),
        F.col("tf").alias("tf_b"),
    )
    dot = (
        a.join(b, "term")
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
    )
    na = norms.select(
        F.col("doc_id").alias("doc_id_a"), F.col("nrm").alias("nrm_a")
    )
    nb = norms.select(
        F.col("doc_id").alias("doc_id_b"), F.col("nrm").alias("nrm_b")
    )
    return (
        dot.join(na, "doc_id_a")
        .join(nb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            "dot",
            (
                F.col("dot").cast("double")
                / (F.col("nrm_a") * F.col("nrm_b"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(SPARSE_COS_T))
    )


BIGRAM_MIN_COUNT = 5
BIGRAM_TOP_K = 200


def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model table: the top-``BIGRAM_TOP_K`` conditional
    probabilities P(w2 | w1) = c(w1,w2) / c(w1·) over the corpus, where
    c(w1·) is the count of bigrams STARTING with w1 (so probabilities per
    w1 sum to exactly 1) and rare bigrams (< ``BIGRAM_MIN_COUNT``) are
    pruned AFTER the denominator is fixed — the n-gram statistics step of
    a data-quality / generation-analysis pipeline.

    Scale shape: bigrams are built per-row with zip_with over two array
    slices (zero shuffle, no self-join); one (w1,w2) count aggregation;
    the w1 marginal derives from those counts (never a second corpus
    pass); top-K is TakeOrderedAndProject, never a global sort.

    Determinism: exact int counts; cond_p is one double division; the
    (cond_p desc, w1, w2) ordering is total, so the K-boundary is unique.
    """
    docs = read_table(spark, sf_dir, "documents").select("text")
    words = F.split(F.col("text"), " ")
    pairs = F.zip_with(
        F.slice(words, 1, F.size(words) - 1),
        F.slice(words, 2, F.size(words) - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    from filmdatawarehouse_spark.operators.cache import managed_persist

    # the (w1,w2) histogram (vocab²-bounded, tiny vs the corpus) feeds the
    # marginal AND the probability join — persist, don't re-explode
    bg = managed_persist(
        docs.select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    marg = bg.groupBy("w1").agg(F.sum("c12").alias("c1"))
    return (
        bg.filter(F.col("c12") >= BIGRAM_MIN_COUNT)
        .join(marg, "w1")
        .select(
            "w1",
            "w2",
            "c12",
            "c1",
            (F.col("c12").cast("double") / F.col("c1").cast("double")).alias(
                "cond_p"
            ),
        )
        .orderBy(F.col("cond_p").desc(), "w1", "w2")
        .limit(BIGRAM_TOP_K)
    )


def q_dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification over the MinHash near-dup candidate
    pairs: Levenshtein distance plus normalized similarity
    ``1 - lev/max(len_a, len_b)`` for every verified near-dup pair — the
    character-level confirmation layer a curation pipeline runs on its
    (tiny) pair set, NEVER on the corpus cross-product.

    Determinism: Levenshtein is exact integer DP in both engines;
    the normalized similarity is one double division of exact ints.

    Scale shape: the pair set is the already-subquadratic LSH output;
    joining texts back is two key joins, and the DP cost is
    O(pairs × len²) on ~100-word docs — trivial next to candidate
    generation.
    """
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = minhash_pairs_shared(spark, sf_dir)
    a = docs.select(
        F.col("doc_id").alias("doc_id_a"), F.col("text").alias("_ta")
    )
    b = docs.select(
        F.col("doc_id").alias("doc_id_b"), F.col("text").alias("_tb")
    )
    j = pairs.select("doc_id_a", "doc_id_b").join(a, "doc_id_a").join(b, "doc_id_b")
    lev = F.levenshtein(F.col("_ta"), F.col("_tb"))
    denom = F.greatest(F.length("_ta"), F.length("_tb"))
    return j.select(
        "doc_id_a",
        "doc_id_b",
        lev.cast("int").alias("edit_distance"),
        (F.lit(1.0) - lev.cast("double") / denom.cast("double")).alias(
            "edit_similarity"
        ),
    )


def q_dedup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the verified near-dup pair graph — the cluster-cohesion
    signal (a triangle means three documents pairwise-near-duplicate;
    wedges that DON'T close flag chained borderline matches worth auditing
    before transitive merging).

    Implementation is the standard ordered-edge triangle join: edges
    already satisfy a < b, so (a,b) ⋈ (b,c) ⋈ (a,c) enumerates each
    triangle exactly once with equi-joins only. At 100 TB-corpus pair
    graphs, work is bounded by Σ deg(v)² over the (tiny, subquadratic) LSH
    pair set — and hub nodes are exactly the mass-dup content the
    hot-bucket cap already excised upstream.
    """
    # the pair frame feeds all THREE join branches — the shared persisted
    # frame keeps the LSH candidate+verify subtree from re-executing per
    # branch (measured 5.3 s -> ~2 s cold at sf0.1) AND from re-building
    # per warm consumer (r09: five queries share it)
    e = minhash_pairs_shared(spark, sf_dir).select("doc_id_a", "doc_id_b")
    e1 = e.select(F.col("doc_id_a").alias("a"), F.col("doc_id_b").alias("b"))
    e2 = e.select(F.col("doc_id_a").alias("b"), F.col("doc_id_b").alias("c"))
    e3 = e.select(F.col("doc_id_a").alias("a"), F.col("doc_id_b").alias("c"))
    return (
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .select(
            F.col("a").alias("doc_id_a"),
            F.col("b").alias("doc_id_b"),
            F.col("c").alias("doc_id_c"),
        )
    )


ANN_PAIR_RECALL_BAR = 0.9


def q_dedup_embedding_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certification of the sub-quadratic embedding-dedup path: IVF-
    bucketed candidates + exact re-score vs the exact block-GEMM pairs.
    Emits (n_exact_pairs, recall_ok) — precision needs no check (both
    paths share the exact re-score, so approximate pairs are a SUBSET of
    exact pairs by construction; only recall can be lost)."""
    emb = read_table(spark, sf_dir, "embeddings")
    exact = dd.embedding_cosine_pairs(emb, threshold=COSINE_T).select(
        "vec_id_a", "vec_id_b"
    )
    approx = dd.embedding_cosine_pairs_ann(emb, threshold=COSINE_T).select(
        "vec_id_a", "vec_id_b"
    )
    hits = exact.join(approx, ["vec_id_a", "vec_id_b"], "left_semi")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
    n_hits = hits.agg(F.count(F.lit(1)).alias("_n_hits"))
    return n_exact.crossJoin(n_hits).select(
        "n_exact_pairs",
        (
            F.col("_n_hits").cast("double") / F.col("n_exact_pairs")
            >= F.lit(ANN_PAIR_RECALL_BAR)
        )
        .cast("int")
        .alias("recall_ok"),
    )


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < N_QUERY_VECS), k=TOPK_K)


def q_similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, emb.filter(F.col("vec_id") < N_QUERY_VECS), k=TOPK_K)


ANN_RECALL_BAR = 0.9


def q_similarity_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall certification for the ANN path: run IVF and exact top-k over
    the same query set and compute recall@k IN-ENGINE; emit one row
    (n_queries, k, recall_ok) where recall_ok = 1 iff recall@5 ≥ 0.9.
    The oracle pins that row, so the gate FAILS the moment the approximate
    path's quality regresses — this is the hash-checked contract the
    rows-only ``similarity_ann_ivf`` entry lacks."""
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    exact = cosine_topk(emb, q, k=TOPK_K).select("query_id", "neighbor_id")
    approx = ivf_topk(emb, q, k=TOPK_K).select("query_id", "neighbor_id")
    hits = exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
    totals = exact.agg(
        F.count_distinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("_n_exact"),
    )
    n_hits = hits.agg(F.count(F.lit(1)).alias("_n_hits"))
    return totals.crossJoin(n_hits).select(
        F.col("n_queries"),
        F.lit(TOPK_K).cast("int").alias("k"),
        (
            F.col("_n_hits").cast("double") / F.col("_n_exact")
            >= F.lit(ANN_RECALL_BAR)
        )
        .cast("int")
        .alias("recall_ok"),
    )


def q_similarity_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius query: all neighbors with cosine ≥ RANGE_T for the query set
    (same pinned-chain cosine as top-k, so the threshold boundary is
    bit-identical across engines)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return cosine_range_search(
        emb, emb.filter(F.col("vec_id") < N_QUERY_VECS), threshold=RANGE_T
    )


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.lang_id_frame(read_table(spark, sf_dir, "documents"))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.quality_frame(read_table(spark, sf_dir, "documents"))


def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        tx.token_count_ws("text").alias("n_tokens_ws"),
        tx.token_count_bpe("text").alias("n_tokens_bpe"),
    )


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return d.select("doc_id", tx.fingerprint("text").alias("fingerprint"))


def q_text_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-50 words by frequency (explode → group-count →
    top-k). The generate/explode operator the reference never needs — the
    backbone of any tokenize-then-aggregate pipeline. Ties broken by word so
    the result set is deterministic."""
    d = read_table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("word")
    ).filter(F.length("word") > 0)
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
        .limit(50)
    )


def q_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_window_counts(read_table(spark, sf_dir, "events"))


def q_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_window_counts(read_table(spark, sf_dir, "events"))


def q_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_windows(read_table(spark, sf_dir, "events"))


def q_events_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the custom stateful streaming operator
    (streaming/stateful.py `running_user_totals`): the final per-user state
    after one availableNow pass equals this groupBy (equivalence asserted in
    tests/test_streaming.py). DECIMAL-summed value so the total is
    order-independent across engines."""
    e = read_table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("total_value"),
    )


def q_skew_salted_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted count over the events grouping key — the explicit
    skew tool (operators/skew.py) wired to the query surface: a hot user's
    rows spread across salt_factor map-side partials instead of one reducer.
    Result is salt-invariant, so the plain GROUP BY oracle pins it."""
    return salted_group_count(read_table(spark, sf_dir, "events"), "user_id")


def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact⋈dim join on the (skewed) user key: the small per-user
    first-seen dim is exploded across salts, the fact side salts by row
    hash, and the post-join aggregation (events strictly after the user's
    first event, per type) is salt-invariant — hash-checked against the
    plain join."""
    e = read_table(spark, sf_dir, "events")
    dim = e.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    joined = salted_join(e, dim, on="user_id", how="inner")
    return (
        joined.filter(F.col("ts") > F.col("first_ts"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_later"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )


def q_events_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) per-user aggregates in event-time order — the
    ROWS UNBOUNDED PRECEDING window frame, previously absent from the
    registry. Deterministic tiebreak on event_id; DECIMAL running sum so
    every prefix is exact on both engines before the final DOUBLE cast."""
    from pyspark.sql.window import Window

    e = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("running_n"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("running_value"),
    )


TFIDF_TOP_K = 10


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 TF-IDF terms per document: tokenize → per-doc term counts →
    corpus document frequency → (tf/len)·ln(N/df), ranked per doc.

    The shape a feature-extraction pipeline runs at corpus scale: three
    two-phase aggregates (term counts, doc lengths, doc frequency), joins
    keyed on doc/term, and a per-doc top-k window.

    Portability subtlety: JVM ``Math.log`` and DuckDB's libm ``ln`` differ
    by an ulp on some arguments (measured: 182/4986 rows at sf0.01), so the
    idf is computed in a zero-shuffle Arrow stage with Python's
    ``math.log`` — glibc on both engines, bit-identical (the same trick the
    byte-entropy oracle uses). The division and multiply around it are
    plain IEEE ops in pinned order."""
    import math

    import pandas as pd

    from pyspark.sql.window import Window

    docs = read_table(spark, sf_dir, "documents")
    n_docs = docs.count()  # one scalar action; the corpus size is a constant
    words = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("term"),
    ).filter(F.length("term") > 0)
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # doc_len = Σ tf per doc — EXACTLY the token count, but aggregated
    # from the (doc_id, term) counts instead of re-exploding the corpus
    # (r17, guide §2.3/§2.4): the r16 shape derived doclen from ``words``
    # directly, so the token stream was exploded AND shuffled twice (AQE
    # exchange reuse dedupes the tf exchange across its two consumers,
    # but doclen's doc_id exchange was a second full-token pass). Summing
    # tf shuffles vocab-sized partial aggregates instead.
    doclen = tf.groupBy("doc_id").agg(F.sum("tf").alias("doc_len"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    def idf_stage(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["idf"] = pd.Series(
                [math.log(n_docs / d) for d in pdf["df"]], dtype="float64"
            )
            yield pdf[["term", "idf"]]

    idf = df_.mapInPandas(idf_stage, "term string, idf double")
    scored = (
        tf.join(doclen, "doc_id")
        .join(idf, "term")
        .select(
            "doc_id",
            "term",
            ((F.col("tf").cast("double") / F.col("doc_len")) * F.col("idf")).alias(
                "tfidf"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tfidf", "rank")
    )


# rsd is a STANDARD DEVIATION, not a bound — certify at ~3σ headroom so the
# flag tests sketch health, not luck (0.05/0.05 flaked at sf0.001's 1.5k
# cardinality: observed error ~1.2σ over the tolerance)
SKETCH_DISTINCT_RSD = 0.01  # HLL++ target relative standard deviation
SKETCH_DISTINCT_TOL = 0.05  # certified max relative error on this corpus
SKETCH_PCTL_ACCURACY = 10_000  # KLL-style accuracy knob of approx_percentile
SKETCH_PCTL_TOL = 0.01


def q_sketch_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch certification, same contract as ``similarity_ann_recall``:
    run the APPROXIMATE aggregates (HyperLogLog++ distinct count, KLL-style
    approx percentile — the only viable forms at 100 TB) next to their
    exact twins IN-ENGINE, emit the exact values plus ok-flags that the
    sketch error is within tolerance; the oracle pins exact values and
    flags, so a sketch-quality regression fails the hash gate. Approximate
    values themselves are engine-specific and never compared directly."""
    li = read_table(spark, sf_dir, "lineitem")
    exact = li.agg(
        F.count_distinct("l_orderkey").alias("n_exact"),
        F.expr("percentile(cast(l_extendedprice as double), 0.5)").alias(
            "p50_exact"
        ),
    )
    approx = li.agg(
        F.approx_count_distinct("l_orderkey", rsd=SKETCH_DISTINCT_RSD).alias(
            "n_approx"
        ),
        F.percentile_approx(
            "l_extendedprice", 0.5, SKETCH_PCTL_ACCURACY
        ).alias("p50_approx"),
    )
    return exact.crossJoin(approx).select(
        F.col("n_exact"),
        (
            F.abs(F.col("n_approx").cast("double") - F.col("n_exact"))
            / F.col("n_exact")
            <= F.lit(SKETCH_DISTINCT_TOL)
        )
        .cast("int")
        .alias("distinct_ok"),
        F.col("p50_exact").cast("double").alias("p50_exact"),
        (
            F.abs(
                F.col("p50_approx").cast("double") - F.col("p50_exact")
            )
            / F.col("p50_exact")
            <= F.lit(SKETCH_PCTL_TOL)
        )
        .cast("int")
        .alias("pctl_ok"),
    )


PMI_MIN_COUNT = 5
PMI_TOP_K = 50


def q_text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by pointwise mutual information:
    PMI(a,b) = ln( p(ab) / (p(a)·p(b)) ) over adjacent-token bigrams.

    The count plumbing is classic distributed text analytics — bigram
    multiset counts (bound token array → adjacent-pair transform →
    explode), unigram counts, corpus totals — all two-phase aggregates.
    The probability RATIO is assembled with pinned IEEE ops; the single
    ``ln`` runs in an Arrow stage with glibc log (the JVM-vs-libm ulp
    issue, same as text_tfidf).

    Top-K via ``orderBy().limit()`` → TakeOrderedAndProject (per-partition
    partial top-K, no single-partition shuffle of the full vocabulary² —
    the round-2 scale smell); ``rank`` is then attached by a one-batch
    Arrow stage over the ≤PMI_TOP_K survivors, so no unpartitioned
    WindowExec appears anywhere in the plan."""
    import math

    import pandas as pd

    docs = read_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: F.length(t) > 0
    )
    with_toks = docs.select(toks.alias("_ts"))
    idx = F.when(
        F.size(F.col("_ts")) >= 2,
        F.sequence(F.lit(1), F.size(F.col("_ts")) - 1),
    ).otherwise(F.array().cast("array<int>"))
    bigrams = with_toks.select(
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at(F.col("_ts"), i).alias("w1"),
                    F.element_at(F.col("_ts"), i + F.lit(1)).alias("w2"),
                ),
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    bic = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    uni = with_toks.select(F.explode(F.col("_ts")).alias("w"))
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    # n_tok = Σ unigram counts — exactly the token-stream count, but
    # aggregated from the vocab-sized ``uc`` partials instead of
    # re-exploding the corpus a third time (r17, guide §2.3: the r16
    # shape ran explode passes for bigrams, unigrams, AND this count)
    totals = bic.agg(F.sum("c_ab").alias("n_bi")).crossJoin(
        uc.agg(F.sum("c").alias("n_tok"))
    )
    ratio = (
        (F.col("c_ab").cast("double") / F.col("n_bi"))
        / (
            (F.col("c_a").cast("double") / F.col("n_tok"))
            * (F.col("c_b").cast("double") / F.col("n_tok"))
        )
    )
    scored = (
        bic.filter(F.col("c_ab") >= PMI_MIN_COUNT)
        .join(uc.select(F.col("w").alias("w1"), F.col("c").alias("c_a")), "w1")
        .join(uc.select(F.col("w").alias("w2"), F.col("c").alias("c_b")), "w2")
        .crossJoin(F.broadcast(totals))
        .select("w1", "w2", "c_ab", ratio.alias("_ratio"))
    )

    def ln_stage(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["pmi"] = pd.Series(
                [math.log(r) for r in pdf["_ratio"]], dtype="float64"
            )
            yield pdf[["w1", "w2", "c_ab", "pmi"]]

    with_pmi = scored.mapInPandas(
        ln_stage, "w1 string, w2 string, c_ab bigint, pmi double"
    )
    top = with_pmi.orderBy(
        F.col("pmi").desc(), F.col("w1"), F.col("w2")
    ).limit(PMI_TOP_K)

    def rank_stage(batches):
        # single input partition (limit) — gather, re-sort for safety
        # against batch splits, assign 1..K (ASCII corpus: pandas object
        # sort == Spark UTF8 binary order)
        pdfs = [pdf for pdf in batches if len(pdf)]
        if not pdfs:
            return
        all_rows = (
            pd.concat(pdfs, ignore_index=True)
            .sort_values(["pmi", "w1", "w2"], ascending=[False, True, True])
            .reset_index(drop=True)
        )
        all_rows["rank"] = pd.Series(
            range(1, len(all_rows) + 1), dtype="int32"
        )
        yield all_rows

    return top.mapInPandas(
        rank_stage, "w1 string, w2 string, c_ab bigint, pmi double, rank int"
    )


def q_events_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward imputation: each event carries the
    user's most recent PURCHASE value (null until the first purchase) —
    ``last(..., ignorenulls)`` over the running frame, the standard
    time-series gap-imputation window. One shuffle on the user key."""
    from pyspark.sql.window import Window

    e = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    purchase_val = F.when(F.col("event_type") == "purchase", F.col("value"))
    return e.select(
        "user_id",
        "event_id",
        "ts",
        F.last(purchase_val, ignorenulls=True).over(w).alias("last_purchase_value"),
    )


FUNNEL_WINDOW_S = 3600


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion: per user, does a 'view' lead to a 'purchase'
    within an hour? Classic product-analytics sequence matching as pure
    window algebra: for every view, the time of the NEXT purchase by the
    same user (min over a forward-looking conditional window), then an
    interval test — no per-row Python, no self-join explosion on hot
    users. Output: per-user view count, converted-view count."""
    from pyspark.sql.window import Window

    e = read_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_type").asc())
        .rowsBetween(1, Window.unboundedFollowing)
    )
    next_purchase = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ts"))
    ).over(w)
    views = (
        e.withColumn("next_purchase_ts", next_purchase)
        .filter(F.col("event_type") == "view")
        .withColumn(
            "converted",
            (
                F.col("next_purchase_ts").isNotNull()
                & (
                    F.unix_micros(F.col("next_purchase_ts"))
                    - F.unix_micros(F.col("ts"))
                    <= F.lit(FUNNEL_WINDOW_S * 1_000_000)
                )
            ).cast("int"),
        )
    )
    return views.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_views"),
        F.sum("converted").cast("bigint").alias("n_converted"),
    )


NORM_BUCKET_W = 0.25


def q_embedding_norm_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-column analytics: distribution of embedding L2 norms in fixed-
    width buckets — the sanity profile a vector corpus gets before anything
    is trained on it. The norm is the pinned left-fold (same as the
    similarity operators), the bucket is exact integer math on the fold
    result, and the aggregation is an ordinary two-phase count."""
    from filmdatawarehouse_spark.operators.similarity import fold_norm_udf

    emb = read_table(spark, sf_dir, "embeddings")
    n = emb.select(fold_norm_udf()(F.col("embedding")).alias("nrm"))
    bucket = F.floor(F.col("nrm") / F.lit(NORM_BUCKET_W)).cast("bigint")
    return (
        n.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


def q_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/arg_max aggregate (top-1-per-group WITHOUT a window shuffle
    of ranked rows — one two-phase aggregate): each customer's most recent
    order. Deterministic under date ties by packing (date_id, orderkey)
    into one sortable integer on both engines."""
    from filmdatawarehouse_spark.operators.dates import date_id

    o = read_table(spark, sf_dir, "orders")
    packed = date_id("o_orderdate").cast("bigint") * F.lit(10_000_000_000) + F.col(
        "o_orderkey"
    )
    return o.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", packed).alias("latest_orderkey"),
        F.max(date_id("o_orderdate")).alias("latest_date_id"),
    )


def q_text_normalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization-then-dedup: exact-duplicate groups AFTER text
    normalization (case/punctuation/whitespace-insensitive) — catches the
    trivial near-dups fuzzy matching shouldn't have to pay for. Returns
    every group (this corpus has no normalized dups, so the gate checks
    the normalization transform itself via the md5 of each canonical
    form — an empty filtered result would hash-match trivially)."""
    d = read_table(spark, sf_dir, "documents")
    normed = d.select(
        "doc_id", tx.normalize_text("text").alias("norm_text")
    )
    return (
        normed.groupBy("norm_text")
        .agg(
            F.min("doc_id").alias("survivor_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(
            F.md5("norm_text").alias("norm_md5"), "survivor_id", "n_copies"
        )
    )


def q_unpivot_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (the inverse of the single-pass pivot in
    queries/relational.py): part's numeric attributes melt into
    (p_partkey, attr, val) — ``df.unpivot`` compiles to one Expand over
    one scan, no shuffle at all."""
    p = read_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
    ).unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="attr",
        valueColumnName="val",
    )


def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured processing: extract the integer field from the JSON
    ``props`` column (JSON path stays JVM-side — ``get_json_object``
    vectorizes in codegen, no Python) and aggregate per event_type. The
    100 TB reality is that half the interesting columns arrive as JSON
    strings; extraction must be a scan-speed projection, not a UDF."""
    e = read_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


def q_grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form behind rollup/cube):
    per-status totals, per-priority totals, and the grand total in ONE
    aggregation pass, with grouping() flags disambiguating real NULLs from
    subtotal rows."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_priority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_price
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


GAP_MIN_S = 1800


def q_events_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity-gap detection via lag(): for each event, microseconds
    since the user's previous event; emit gaps above 30 minutes — the lead/
    lag window family, and the analytical twin of session windowing."""
    from pyspark.sql.window import Window

    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    with_prev = e.select(
        "user_id",
        "event_id",
        "ts",
        F.lag("ts").over(w).alias("prev_ts"),
    )
    return with_prev.filter(
        F.col("prev_ts").isNotNull()
        & (
            F.unix_micros(F.col("ts")) - F.unix_micros(F.col("prev_ts"))
            > F.lit(GAP_MIN_S * 1_000_000)
        )
    ).select(
        "user_id",
        "event_id",
        "ts",
        "prev_ts",
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("prev_ts"))).alias(
            "gap_us"
        ),
    )


FRAME_EVERY = 1024
FRAME_BYTES = 256


def q_multimodal_frame_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling metadata, oracle-checked: sample byte windows from
    each payload (the video-frame explosion shape, operators/multimodal.py
    :sample_frames) and emit per-frame length + digest. The corpus payloads
    are ASCII text bytes, so the SQL twin slices the text itself and md5s
    the substring — byte-exact for this corpus (the operator itself is
    byte-true for any payload)."""
    from filmdatawarehouse_spark.operators.multimodal import (
        attach_text_payload,
        sample_frames,
    )

    frames = sample_frames(
        attach_text_payload(read_table(spark, sf_dir, "documents")),
        every_n_bytes=FRAME_EVERY,
        frame_bytes=FRAME_BYTES,
    )
    return frames.select(
        "asset_id",
        "frame_idx",
        F.length("frame").cast("bigint").alias("n_bytes"),
        F.md5("frame").alias("frame_md5"),
    )


def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable train/val/test assignment by hashed doc_id (no RNG — split
    membership survives corpus growth and re-partitioning), rolled up per
    (split, lang). The oracle replays the md5 bucket arithmetic, so
    assignment itself is hash-checked, not just the counts' shape."""
    from filmdatawarehouse_spark.operators.sampling import hash_split

    docs = hash_split(read_table(spark, sf_dir, "documents"), key="doc_id")
    return docs.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


PROFILE_COLS = ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"]


def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of the orders table (null/distinct/min/max per
    column from one scan) — the expectations check a warehouse load runs
    before publishing a partition."""
    from filmdatawarehouse_spark.operators.cleaning import profile_table

    return profile_table(read_table(spark, sf_dir, "orders"), PROFILE_COLS)


def q_multimodal_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return byte_stats(attach_text_payload(read_table(spark, sf_dir, "documents")))


def q_multimodal_payload_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata (length + md5 digest) — the JVM-side half of
    the multimodal pipeline, oracle-checked byte-for-byte."""
    return payload_meta(
        attach_text_payload(read_table(spark, sf_dir, "documents"))
    )


# ---------------------------------------------------------------------------
# oracle SQL generation (shares constants with the operators)
# ---------------------------------------------------------------------------

# shingles are 32-bit md5-hashed before the Jaccard (identical to the Spark
# side: hashed_shingles) — int-set intersections, and hash collisions hit
# both engines identically.
_WORD_SHINGLES = """
    SELECT doc_id, list_distinct(list_transform(
             [s[i] || ' ' || s[i+1] || ' ' || s[i+2] for i in range(1, len(s)-1)],
             g -> ('0x' || substr(md5(g), 1, 8))::BIGINT
           )) AS shingles
    FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)
"""

# byte 5-grams encoded as bijective base-256 integers — the exact values the
# fused numpy stage produces (operators/dedup.py:byte_ngram_signatures):
# '0x' || hex(bytes) reads the window big-endian, same as the dot with
# 256^[n-1..0]. No hashing on either side.
_CHAR_NGRAMS = """
    SELECT doc_id, list_distinct(list_transform(
             [substr(text, i, 5) for i in range(1, len(text)-3)],
             g -> ('0x' || hex(encode(g)))::BIGINT
           )) AS shingles
    FROM documents
"""


def _jaccard_pairs_sql(shingle_cte: str, threshold: float) -> str:
    return f"""
        WITH sh AS ({shingle_cte}),
        pairs AS (
          SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                 len(list_intersect(a.shingles, b.shingles))::DOUBLE
                   / len(list_distinct(list_concat(a.shingles, b.shingles)))
                   AS jaccard
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        )
        SELECT doc_id_a, doc_id_b, jaccard FROM pairs
        WHERE jaccard >= {threshold}
    """


_SIMHASH_CTE = f"""
    tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ), th AS (
      SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok
    ), bits AS (
      SELECT doc_id, k,
             CASE WHEN sum(CASE WHEN (h >> k) & 1 = 1 THEN 1 ELSE -1 END) > 0
                  THEN 1::BIGINT ELSE 0::BIGINT END AS bit
      FROM th CROSS JOIN range({dd.SIMHASH_BITS}) AS r(k)
      GROUP BY doc_id, k
    ), sh AS (
      SELECT doc_id, sum(bit << k)::BIGINT AS simhash FROM bits GROUP BY doc_id
    )
"""

_NORMS_CTE = """
    n AS (
      SELECT vec_id, embedding,
             sqrt(list_reduce(
               list_prepend(0.0::DOUBLE,
                 list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)),
               (acc, x) -> acc + x)) AS nrm
      FROM embeddings
    )
"""

_DOT = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform(range(1, len(a.embedding)+1), "
    "i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)), "
    "(acc, x) -> acc + x)"
)


def _langid_sql() -> str:
    score_exprs = []
    for lang in tx.LANG_PRIORITY:
        markers = ", ".join(f"'{m}'" for m in tx.LANG_MARKERS[lang])
        score_exprs.append(
            f"len(list_filter(string_split(text, ' '), "
            f"t -> list_contains([{markers}], t))) AS s_{lang}"
        )
    cases = []
    for i, lang in enumerate(tx.LANG_PRIORITY[:-1]):
        later = tx.LANG_PRIORITY[i + 1 :]
        cond = " AND ".join(f"s_{lang} >= s_{o}" for o in later)
        cases.append(f"WHEN {cond} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + f" ELSE '{tx.LANG_PRIORITY[-1]}' END"
    return f"""
        WITH scored AS (
          SELECT doc_id, {", ".join(score_exprs)} FROM documents
        )
        SELECT doc_id, {case_sql} AS lang_pred FROM scored
    """


def _quality_sql() -> str:
    stop = ", ".join(f"'{m}'" for m in tx.STOPWORDS)
    return f"""
        WITH m AS (
          SELECT doc_id,
                 len(string_split(text, ' '))::DOUBLE AS n_tok,
                 len(text)::DOUBLE AS n_chars,
                 (len(text) - len(regexp_replace(text, '[a-zA-Z]', '', 'g')))::DOUBLE AS alpha,
                 len(regexp_replace(text, '[^.,;:!?''"()]', '', 'g'))::DOUBLE AS punct,
                 len(list_filter(string_split(text, ' '),
                     t -> list_contains([{stop}], t)))::DOUBLE AS stop
          FROM documents
        )
        SELECT doc_id,
               0.25 * least(1.0, n_tok / 50.0)
             + 0.25 * (alpha / n_chars)
             + 0.25 * (1.0 - punct / n_chars)
             + 0.25 * (stop / n_tok) AS quality
        FROM m
    """


ORACLES: dict[str, str] = {
    "dedup_exact": """
        SELECT text, MIN(doc_id) AS survivor_id, COUNT(*) AS n_copies
        FROM documents GROUP BY text
    """,
    "dedup_minhash_lsh": _jaccard_pairs_sql(_WORD_SHINGLES, JACCARD_T),
    "dedup_ngram_jaccard": _jaccard_pairs_sql(_CHAR_NGRAMS, NGRAM_T),
    # connected components = recursive transitive closure over the verified
    # pair graph; cluster id = min reachable node. DuckDB's recursive UNION
    # dedups rows, so the closure terminates.
    "dedup_clusters": f"""
        WITH RECURSIVE
        sh AS ({_WORD_SHINGLES}),
        p AS (
          SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE
                  / len(list_distinct(list_concat(a.shingles, b.shingles)))
                >= {JACCARD_T}
        ),
        edges AS (
          SELECT doc_id_a AS a, doc_id_b AS b FROM p
          UNION ALL
          SELECT doc_id_b, doc_id_a FROM p
        ),
        reach(id, r) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id
        )
        SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
    """,
    "dedup_simhash": f"""
        WITH {_SIMHASH_CTE.strip()}
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               bit_count(xor(a.simhash, b.simhash))::INT AS hamming
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
    """,
    "dedup_embedding_cosine": f"""
        WITH {_NORMS_CTE.strip()},
        pairs AS (
          SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
                 {_DOT} / (a.nrm * b.nrm) AS cosine
          FROM n a JOIN n b ON a.vec_id < b.vec_id
        )
        SELECT vec_id_a, vec_id_b, cosine FROM pairs WHERE cosine >= {COSINE_T}
    """,
    "similarity_topk": f"""
        WITH {_NORMS_CTE.strip()},
        scored AS (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 {_DOT} / (a.nrm * b.nrm) AS cosine
          FROM n a JOIN n b ON b.vec_id != a.vec_id
          WHERE a.vec_id < {N_QUERY_VECS}
        ),
        ranked AS (
          SELECT *, row_number() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
                 )::INT AS rank
          FROM scored
        )
        SELECT query_id, neighbor_id, cosine, rank FROM ranked
        WHERE rank <= {TOPK_K}
    """,
    # cosine computed once in a CTE, filtered outside — not repeated in
    # SELECT and WHERE (DuckDB would evaluate the fold twice)
    "similarity_range": f"""
        WITH {_NORMS_CTE.strip()},
        scored AS (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 {_DOT} / (a.nrm * b.nrm) AS cosine
          FROM n a JOIN n b ON b.vec_id != a.vec_id
          WHERE a.vec_id < {N_QUERY_VECS}
        )
        SELECT query_id, neighbor_id, cosine FROM scored
        WHERE cosine >= {RANGE_T}
    """,
    "text_langid": _langid_sql(),
    "text_quality": _quality_sql(),
    "text_token_count": f"""
        SELECT doc_id,
               len(string_split(text, ' '))::BIGINT AS n_tokens_ws,
               len(regexp_extract_all(text, '{tx.BPE_TOKEN_RE}'))::BIGINT
                 AS n_tokens_bpe
        FROM documents
    """,
    "text_fingerprint": f"""
        SELECT doc_id,
               list_reduce(
                 list_prepend(0::BIGINT,
                   list_transform(string_split(text, ''),
                                  c -> unicode(c)::BIGINT)),
                 (a, c) -> (a * 31 + c) % {tx.MOD_PRIME}) AS fingerprint
        FROM documents
    """,
    # approximate-dedup certification: the exact pair count comes from the
    # all-pairs SQL; recall_ok pinned at 1 (the engine computes recall of
    # the IVF-bucketed path against the exact path in-engine).
    "dedup_embedding_ann_recall": f"""
        WITH {_NORMS_CTE.strip()},
        pairs AS (
          SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
                 {_DOT} / (a.nrm * b.nrm) AS cosine
          FROM n a JOIN n b ON a.vec_id < b.vec_id
        )
        SELECT COUNT(*)::BIGINT AS n_exact_pairs, 1 AS recall_ok
        FROM pairs WHERE cosine >= {COSINE_T}
    """,
    # the ANN certification row: the engine computes recall@5 of IVF vs the
    # exact path; the oracle pins (n_queries from the data, k, recall_ok=1).
    # If IVF quality drops below the bar, recall_ok flips to 0 → hash fail.
    "similarity_ann_recall": f"""
        SELECT (SELECT COUNT(*) FROM embeddings WHERE vec_id < {N_QUERY_VECS})
                 AS n_queries,
               {TOPK_K} AS k,
               1 AS recall_ok
    """,
    # \s in both engines' regex split; empty tokens filtered on both sides
    # so leading/trailing-whitespace semantics can't diverge.
    "text_vocab_encode": f"""
        WITH w AS (
          SELECT doc_id,
                 unnest(string_split(text, ' ')) AS word,
                 unnest(range(0, len(string_split(text, ' ')))) AS pos
          FROM documents
        ), topk AS (
          SELECT word, count(*) AS c FROM w GROUP BY word
          ORDER BY c DESC, word LIMIT {VOCAB_K}
        ), vocab AS (
          SELECT word,
                 row_number() OVER (ORDER BY c DESC, word)::INT AS vid
          FROM topk
        )
        SELECT w.doc_id,
               count(*)::BIGINT AS n_tokens,
               string_agg(coalesce(v.vid, -1)::VARCHAR, ','
                          ORDER BY w.pos) AS ids_csv
        FROM w LEFT JOIN vocab v USING (word)
        GROUP BY w.doc_id
    """,
    "text_word_freq": r"""
        SELECT word, COUNT(*) AS n FROM (
          SELECT unnest(string_split_regex(lower(text), '\s+')) AS word
          FROM documents
        ) WHERE length(word) > 0
        GROUP BY word ORDER BY n DESC, word LIMIT 50
    """,
    # salting is an execution-strategy change only — results must equal the
    # unsalted equivalents bit-for-bit, which is exactly what these pin.
    "skew_salted_group_count": """
        SELECT user_id, COUNT(*)::BIGINT AS count FROM events GROUP BY user_id
    """,
    "skew_salted_join": """
        WITH dim AS (
          SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id
        )
        SELECT e.event_type,
               COUNT(*)::BIGINT AS n_later,
               CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE)
                 AS total_value
        FROM events e JOIN dim d ON e.user_id = d.user_id
        WHERE e.ts > d.first_ts
        GROUP BY e.event_type
    """,
    "text_pmi_bigrams": rf"""
        WITH toks AS (
          SELECT list_filter(string_split_regex(lower(text), '\s+'),
                             t -> len(t) > 0) AS ts
          FROM documents
        ), bi AS (
          SELECT unnest(list_transform(range(1, len(ts)),
                        i -> struct_pack(w1 := ts[i], w2 := ts[i+1]))) AS s
          FROM toks
        ), bic AS (
          SELECT s.w1 AS w1, s.w2 AS w2, COUNT(*)::BIGINT AS c_ab
          FROM bi GROUP BY s.w1, s.w2
        ), uni AS (
          SELECT unnest(ts) AS w FROM toks
        ), uc AS (
          SELECT w, COUNT(*)::BIGINT AS c FROM uni GROUP BY w
        ), tot AS (
          SELECT (SELECT SUM(c_ab) FROM bic)::BIGINT AS n_bi,
                 (SELECT COUNT(*) FROM uni)::BIGINT AS n_tok
        ), scored AS (
          SELECT b.w1, b.w2, b.c_ab,
                 ln((b.c_ab::DOUBLE / t.n_bi)
                    / ((a.c::DOUBLE / t.n_tok) * (c.c::DOUBLE / t.n_tok)))
                   AS pmi
          FROM bic b
          JOIN uc a ON a.w = b.w1
          JOIN uc c ON c.w = b.w2
          CROSS JOIN tot t
          WHERE b.c_ab >= {PMI_MIN_COUNT}
        ), ranked AS (
          SELECT w1, w2, c_ab, pmi,
                 row_number() OVER (ORDER BY pmi DESC, w1, w2)::INT AS rank
          FROM scored
        )
        SELECT w1, w2, c_ab, pmi, rank FROM ranked WHERE rank <= {PMI_TOP_K}
    """,
    "events_locf_fill": """
        SELECT user_id, event_id, ts,
               last_value(CASE WHEN event_type = 'purchase' THEN value END
                          IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS last_purchase_value
        FROM events
    """,
    "events_funnel": f"""
        WITH x AS (
          SELECT user_id, event_type, ts,
                 MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_type
                         ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                   AS next_purchase_ts
          FROM events
        )
        SELECT user_id,
               COUNT(*)::BIGINT AS n_views,
               SUM(CASE WHEN next_purchase_ts IS NOT NULL
                         AND epoch_us(next_purchase_ts) - epoch_us(ts)
                             <= {FUNNEL_WINDOW_S * 1_000_000}
                        THEN 1 ELSE 0 END)::BIGINT AS n_converted
        FROM x WHERE event_type = 'view'
        GROUP BY user_id
    """,
    "embedding_norm_hist": f"""
        WITH {_NORMS_CTE.strip()}
        SELECT floor(nrm / {NORM_BUCKET_W})::BIGINT AS bucket,
               COUNT(*)::BIGINT AS n_vectors
        FROM n GROUP BY bucket
    """,
    "latest_order_per_customer": """
        WITH x AS (
          SELECT o_custkey, o_orderkey,
                 (year(o_orderdate)*10000 + month(o_orderdate)*100
                  + day(o_orderdate))::BIGINT AS d_id
          FROM orders
        )
        SELECT o_custkey,
               arg_max(o_orderkey, d_id * 10000000000 + o_orderkey)
                 AS latest_orderkey,
               MAX(d_id) AS latest_date_id
        FROM x GROUP BY o_custkey
    """,
    "text_normalize_dedup": """
        WITH n AS (
          SELECT doc_id,
                 trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g')) AS norm_text
          FROM documents
        ), g AS (
          SELECT norm_text, MIN(doc_id) AS survivor_id,
                 COUNT(*)::BIGINT AS n_copies
          FROM n GROUP BY norm_text
        )
        SELECT md5(norm_text) AS norm_md5, survivor_id, n_copies FROM g
    """,
    "unpivot_part": """
        SELECT p_partkey, 'p_size' AS attr, p_size::DOUBLE AS val FROM part
        UNION ALL
        SELECT p_partkey, 'p_retailprice', p_retailprice::DOUBLE FROM part
    """,
    "events_json_props": """
        WITH x AS (
          SELECT event_type,
                 json_extract(props, '$.k')::BIGINT AS k
          FROM events
        )
        SELECT event_type,
               COUNT(*)::BIGINT AS n_events,
               COUNT(k)::BIGINT AS n_with_k,
               SUM(k)::BIGINT AS sum_k,
               MAX(k)::BIGINT AS max_k
        FROM x GROUP BY event_type
    """,
    "grouping_sets_orders": """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_priority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    "events_gaps": f"""
        WITH w AS (
          SELECT user_id, event_id, ts,
                 lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_ts
          FROM events
        )
        SELECT user_id, event_id, ts, prev_ts,
               (epoch_us(ts) - epoch_us(prev_ts))::BIGINT AS gap_us
        FROM w
        WHERE prev_ts IS NOT NULL
          AND epoch_us(ts) - epoch_us(prev_ts) > {GAP_MIN_S * 1_000_000}
    """,
    # ASCII payloads: a byte window of encode(text) == the same substr of
    # text, so md5(substr(...)) hashes the identical bytes (DuckDB md5 is
    # VARCHAR-only; this corpus makes the text slice byte-exact).
    "multimodal_frame_meta": f"""
        WITH b AS (
          SELECT doc_id AS asset_id, text,
                 octet_length(encode(text)) AS n
          FROM documents
        ), pos AS (
          SELECT asset_id, text, n,
                 unnest(range(0, n, {FRAME_EVERY})) AS off
          FROM b
        )
        SELECT asset_id,
               (off / {FRAME_EVERY})::INT AS frame_idx,
               octet_length(encode(substr(text, off::INT + 1, {FRAME_BYTES})))
                 AS n_bytes,
               md5(substr(text, off::INT + 1, {FRAME_BYTES})) AS frame_md5
        FROM pos
    """,
    # split bucket = ('0x'||substr(md5('split:'||id),1,8))::BIGINT % 10000,
    # same arithmetic as operators/sampling.py:hash_bucket
    "corpus_split": """
        WITH b AS (
          SELECT lang, n_chars,
                 ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 8))::BIGINT
                   % 10000 AS bkt
          FROM documents
        ), labeled AS (
          SELECT lang, n_chars,
                 CASE WHEN bkt < 8000 THEN 'train'
                      WHEN bkt < 9000 THEN 'val'
                      ELSE 'test' END AS split
          FROM b
        )
        SELECT split, lang, COUNT(*)::BIGINT AS n_docs,
               SUM(n_chars)::BIGINT AS total_chars
        FROM labeled GROUP BY split, lang
    """,
    "profile_orders": "\nUNION ALL\n".join(
        f"""
        SELECT '{c}' AS "column",
               COUNT(*)::BIGINT AS n_rows,
               SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
               COUNT(DISTINCT {c})::BIGINT AS n_distinct,
               MIN({c})::VARCHAR AS min_str,
               MAX({c})::VARCHAR AS max_str
        FROM orders
        """
        for c in PROFILE_COLS
    ),
    # sketch certification row: exact twins recomputed in SQL; the ok-flags
    # are pinned at 1, so sketch-accuracy regressions hash-fail.
    "sketch_accuracy": """
        SELECT COUNT(DISTINCT l_orderkey) AS n_exact,
               1 AS distinct_ok,
               quantile_cont(l_extendedprice::DOUBLE, 0.5) AS p50_exact,
               1 AS pctl_ok
        FROM lineitem
    """,
    "events_running_totals": """
        SELECT user_id, event_id, ts,
               COUNT(*) OVER w AS running_n,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
                 AS running_value
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)
    """,
    "text_tfidf": r"""
        WITH words AS (
          SELECT doc_id,
                 unnest(string_split_regex(lower(text), '\s+')) AS term
          FROM documents
        ), w2 AS (
          SELECT doc_id, term FROM words WHERE length(term) > 0
        ), tf AS (
          SELECT doc_id, term, COUNT(*) AS tf FROM w2 GROUP BY doc_id, term
        ), dl AS (
          SELECT doc_id, COUNT(*) AS doc_len FROM w2 GROUP BY doc_id
        ), df AS (
          SELECT term, COUNT(*) AS df FROM tf GROUP BY term
        ), n AS (
          SELECT COUNT(*) AS n_docs FROM documents
        ), scored AS (
          SELECT tf.doc_id, tf.term,
                 (tf.tf::DOUBLE / dl.doc_len)
                   * ln(n.n_docs::DOUBLE / df.df) AS tfidf
          FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN n
        ), ranked AS (
          SELECT doc_id, term, tfidf,
                 row_number() OVER (
                   PARTITION BY doc_id ORDER BY tfidf DESC, term
                 )::INT AS rank
          FROM scored
        )
        SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 10
    """,
    "events_user_totals": """
        SELECT user_id,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        FROM events GROUP BY user_id
    """,
    # Byte histogram replayed in SQL: byte i of the payload is read out of
    # the hex dump (2 chars per byte); integers are exact, mean is one
    # division, and the entropy fold runs over counts in ascending byte
    # value — the same sequential order the Spark side pins (see
    # operators/multimodal.py:byte_stats). sum(c) is HUGEINT in DuckDB,
    # hence the explicit BIGINT casts.
    # coalesce(text, '') matches the Python side's NULL→'' fallback
    # (operators/text.py:word_entropy emits a row for NULL-text docs);
    # without it unnest would drop those docs entirely (ADVICE r04).
    "text_word_entropy": """
        WITH w AS (
          SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS word
          FROM documents
        ), h AS (
          SELECT doc_id, word, COUNT(*)::BIGINT AS c
          FROM w GROUP BY doc_id, word
        ), agg AS (
          SELECT doc_id,
                 SUM(c)::BIGINT AS n,
                 COUNT(*)::INT AS n_distinct_words,
                 list(c ORDER BY word) AS cs
          FROM h GROUP BY doc_id
        )
        SELECT doc_id,
               n AS n_words,
               n_distinct_words,
               log2(n) - list_reduce(
                 list_prepend(0.0::DOUBLE,
                   list_transform(cs, c -> c::DOUBLE * log2(c::DOUBLE))),
                 (a, x) -> a + x) / n AS word_entropy
        FROM agg
    """,
    "dedup_edit_distance": f"""
        WITH sh AS ({_WORD_SHINGLES}),
        pairs AS (
          SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE len(a.shingles) > 0 AND len(b.shingles) > 0
            AND len(list_intersect(a.shingles, b.shingles))::DOUBLE
                / len(list_distinct(list_concat(a.shingles, b.shingles)))
                >= {JACCARD_T}
        )
        SELECT doc_id_a, doc_id_b,
               levenshtein(ta.text, tb.text)::INT AS edit_distance,
               1.0 - levenshtein(ta.text, tb.text)::DOUBLE
                     / greatest(len(ta.text), len(tb.text)) AS edit_similarity
        FROM pairs
        JOIN documents ta ON ta.doc_id = doc_id_a
        JOIN documents tb ON tb.doc_id = doc_id_b
    """,
    "dedup_triangles": f"""
        WITH sh AS ({_WORD_SHINGLES}),
        pairs AS (
          SELECT a.doc_id AS pa, b.doc_id AS pb
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE len(a.shingles) > 0 AND len(b.shingles) > 0
            AND len(list_intersect(a.shingles, b.shingles))::DOUBLE
                / len(list_distinct(list_concat(a.shingles, b.shingles)))
                >= {JACCARD_T}
        )
        SELECT e1.pa AS doc_id_a, e1.pb AS doc_id_b, e2.pb AS doc_id_c
        FROM pairs e1
        JOIN pairs e2 ON e2.pa = e1.pb
        JOIN pairs e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    """,
    "multimodal_byte_stats": """
        WITH b AS (
          SELECT doc_id AS asset_id, hex(encode(text)) AS hx,
                 octet_length(encode(text)) AS n
          FROM documents
        ), pos AS (
          SELECT asset_id, hx, unnest(range(1, n + 1)) AS i FROM b
        ), bytes AS (
          SELECT asset_id, ('0x' || substr(hx, 2*i::INT - 1, 2))::BIGINT AS byte
          FROM pos
        ), h AS (
          SELECT asset_id, byte, COUNT(*)::BIGINT AS c
          FROM bytes GROUP BY asset_id, byte
        ), agg AS (
          SELECT asset_id,
                 SUM(c)::BIGINT AS n,
                 SUM(byte * c)::BIGINT AS sum_bytes,
                 COUNT(*)::INT AS n_distinct_bytes,
                 list(c ORDER BY byte) AS cs
          FROM h GROUP BY asset_id
        )
        SELECT asset_id,
               n AS n_bytes,
               sum_bytes,
               n_distinct_bytes,
               sum_bytes::DOUBLE / n AS mean_byte,
               log2(n) - list_reduce(
                 list_prepend(0.0::DOUBLE,
                   list_transform(cs, c -> c::DOUBLE * log2(c::DOUBLE))),
                 (a, x) -> a + x) / n AS byte_entropy
        FROM agg
    """,
    # Full-histogram replay of the two-pass Misra-Gries + recount: the
    # engine must produce EXACTLY the words above the 1/k frequency bar.
    "text_heavy_hitters": f"""
        WITH w AS (
          SELECT unnest(string_split(text, ' ')) AS word FROM documents
        ), tot AS (
          SELECT COUNT(*)::BIGINT AS total_tokens FROM w
        )
        SELECT word, COUNT(*)::BIGINT AS cnt,
               (SELECT total_tokens FROM tot) AS total_tokens
        FROM w GROUP BY word
        HAVING COUNT(*)::DOUBLE
               > (SELECT total_tokens FROM tot)::DOUBLE / {MG_COUNTERS}.0
    """,
    "text_unigram_logprob": """
        WITH w AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS word
          FROM documents
        ), freq AS (
          SELECT word, COUNT(*)::BIGINT AS c FROM w GROUP BY word
        ), tot AS (
          SELECT SUM(c)::BIGINT AS n_total FROM freq
        ), logp AS (
          SELECT word, ln(c::DOUBLE / (SELECT n_total FROM tot)) AS logp
          FROM freq
        )
        SELECT doc_id,
               COUNT(*)::BIGINT AS n_tokens,
               round(
                 CAST(SUM(CAST(logp AS DECIMAL(28,18))) AS DOUBLE) / COUNT(*),
                 9) AS mean_logprob
        FROM w JOIN logp USING (word)
        GROUP BY doc_id
    """,
    "text_containment_pairs": f"""
        WITH w AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ), sh AS (
          SELECT DISTINCT doc_id,
                 ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
          FROM w, unnest(range(1, greatest(len(ws) - 1, 1))) AS t(i)
        ), rare AS (
          SELECT shingle FROM sh GROUP BY shingle
          HAVING COUNT(*) <= {CONTAIN_DF_CAP}
        ), kept AS (
          SELECT sh.* FROM sh JOIN rare USING (shingle)
        ), sizes AS (
          SELECT doc_id, COUNT(*)::BIGINT AS n_sh FROM kept GROUP BY doc_id
        ), inter AS (
          SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                 COUNT(*)::BIGINT AS n_inter
          FROM kept a JOIN kept b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_id_a, doc_id_b, n_inter,
               sa.n_sh AS n_a, sb.n_sh AS n_b,
               n_inter::DOUBLE / least(sa.n_sh, sb.n_sh)::DOUBLE
                 AS containment
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_id_a
        JOIN sizes sb ON sb.doc_id = doc_id_b
        WHERE n_inter::DOUBLE / least(sa.n_sh, sb.n_sh)::DOUBLE
              >= {CONTAIN_T!r}
    """,
    "text_sparse_cosine_pairs": rf"""
        WITH words AS (
          SELECT doc_id,
                 unnest(string_split_regex(lower(text), '\s+')) AS term
          FROM documents
        ), tf AS (
          SELECT doc_id, term, COUNT(*)::BIGINT AS tf
          FROM words WHERE len(term) > 0 GROUP BY doc_id, term
        ), rare AS (
          SELECT term FROM tf GROUP BY term
          HAVING COUNT(*) <= {SPARSE_DF_CAP}
        ), kept AS (
          SELECT tf.* FROM tf JOIN rare USING (term)
        ), norms AS (
          SELECT doc_id, sqrt(SUM(tf * tf)::DOUBLE) AS nrm
          FROM kept GROUP BY doc_id
        ), dots AS (
          SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                 SUM(a.tf * b.tf)::BIGINT AS dot
          FROM kept a JOIN kept b
            ON a.term = b.term AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_id_a, doc_id_b, dot,
               dot::DOUBLE / (na.nrm * nb.nrm) AS cosine
        FROM dots
        JOIN norms na ON na.doc_id = doc_id_a
        JOIN norms nb ON nb.doc_id = doc_id_b
        WHERE dot::DOUBLE / (na.nrm * nb.nrm) >= {SPARSE_COS_T!r}
    """,
    "text_bigram_lm": f"""
        WITH d AS (
          SELECT string_split(text, ' ') AS ws FROM documents
        ), idx AS (
          SELECT ws, unnest(range(1, len(ws))) AS i FROM d
        ), bg AS (
          SELECT ws[i] AS w1, ws[i + 1] AS w2 FROM idx
        ), c AS (
          SELECT w1, w2, COUNT(*)::BIGINT AS c12 FROM bg GROUP BY w1, w2
        ), c1 AS (
          SELECT w1, SUM(c12)::BIGINT AS c1 FROM c GROUP BY w1
        )
        SELECT c.w1, c.w2, c.c12, c1.c1, c.c12::DOUBLE / c1.c1 AS cond_p
        FROM c JOIN c1 USING (w1)
        WHERE c.c12 >= {BIGRAM_MIN_COUNT}
        ORDER BY cond_p DESC, w1, w2 LIMIT {BIGRAM_TOP_K}
    """,
    # Native-twin contracts: same histogram replay as the pinned-fold
    # oracles above, but the doubles are rounded to the 1e-9 grid on both
    # sides — the native Spark plan uses its own log2 and free summation
    # order, so bit-equality is not (and need not be) guaranteed.
    "text_word_entropy_native": """
        WITH w AS (
          SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS word
          FROM documents
        ), h AS (
          SELECT doc_id, word, COUNT(*)::BIGINT AS c
          FROM w GROUP BY doc_id, word
        ), agg AS (
          SELECT doc_id,
                 SUM(c)::BIGINT AS n,
                 COUNT(*)::INT AS n_distinct_words,
                 SUM(c::DOUBLE * log2(c::DOUBLE)) AS acc
          FROM h GROUP BY doc_id
        )
        SELECT doc_id,
               n AS n_words,
               n_distinct_words,
               round(log2(n) - acc / n, 9) AS word_entropy
        FROM agg
    """,
    "multimodal_byte_stats_native": """
        WITH b AS (
          SELECT doc_id AS asset_id, hex(encode(text)) AS hx,
                 octet_length(encode(text)) AS n
          FROM documents
        ), pos AS (
          SELECT asset_id, hx, unnest(range(1, n + 1)) AS i FROM b
        ), bytes AS (
          SELECT asset_id, ('0x' || substr(hx, 2*i::INT - 1, 2))::BIGINT AS byte
          FROM pos
        ), h AS (
          SELECT asset_id, byte, COUNT(*)::BIGINT AS c
          FROM bytes GROUP BY asset_id, byte
        ), agg AS (
          SELECT asset_id,
                 SUM(c)::BIGINT AS n,
                 SUM(byte * c)::BIGINT AS sum_bytes,
                 COUNT(*)::INT AS n_distinct_bytes,
                 SUM(c::DOUBLE * log2(c::DOUBLE)) AS acc
          FROM h GROUP BY asset_id
        )
        SELECT asset_id,
               n AS n_bytes,
               sum_bytes,
               n_distinct_bytes,
               round(sum_bytes::DOUBLE / n, 9) AS mean_byte,
               round(log2(n) - acc / n, 9) AS byte_entropy
        FROM agg
    """,
    # DuckDB md5(VARCHAR) hashes the utf-8 bytes == Spark md5(encode(text)).
    "multimodal_payload_meta": """
        SELECT doc_id AS asset_id,
               'blob' AS media_type,
               octet_length(encode(text)) AS n_bytes,
               md5(text) AS payload_md5
        FROM documents
    """,
    "events_tumbling_window": """
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               CAST(date_trunc('hour', ts) AS TIMESTAMP) + INTERVAL 1 HOUR
                 AS window_end,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2, 3
    """,
    "events_sliding_window": """
        WITH w AS (
          SELECT e.*,
                 TIMESTAMP '1970-01-01 00:00:00'
                   + ((epoch_ms(ts) // 1800000 - o.off) * 1800)
                     * INTERVAL 1 SECOND AS window_start
          FROM events e CROSS JOIN (VALUES (0), (1)) AS o(off)
        )
        SELECT window_start,
               window_start + INTERVAL 1 HOUR AS window_end,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        FROM w
        GROUP BY 1, 2, 3
    """,
    "events_session_window": """
        WITH x AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                        IS NULL
                      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                        > INTERVAL 10 MINUTE
                      THEN 1 ELSE 0 END AS brk
          FROM events
        ), y AS (
          SELECT user_id, ts,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sess
          FROM x
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 10 MINUTE AS session_end,
               COUNT(*) AS n_events
        FROM y GROUP BY user_id, sess
    """,
}

EXTENDED_QUERIES: dict[str, Entry] = {
    "dedup_exact": (q_dedup_exact, ORACLES["dedup_exact"]),
    "dedup_minhash_lsh": (q_dedup_minhash, ORACLES["dedup_minhash_lsh"]),
    "dedup_ngram_jaccard": (q_dedup_ngram, ORACLES["dedup_ngram_jaccard"]),
    "dedup_simhash": (q_dedup_simhash, ORACLES["dedup_simhash"]),
    "dedup_embedding_cosine": (q_dedup_embedding, ORACLES["dedup_embedding_cosine"]),
    "dedup_clusters": (q_dedup_clusters, ORACLES["dedup_clusters"]),
    "dedup_clusters_star": (q_dedup_clusters_star, ORACLES["dedup_clusters"]),
    "dedup_embedding_ann_recall": (
        q_dedup_embedding_ann_recall,
        ORACLES["dedup_embedding_ann_recall"],
    ),
    "similarity_topk": (q_similarity_topk, ORACLES["similarity_topk"]),
    "similarity_range": (q_similarity_range, ORACLES["similarity_range"]),
    "similarity_ann_ivf": (q_similarity_ann_ivf, None),  # approximate: rows-only
    "similarity_ann_recall": (
        q_similarity_ann_recall,
        ORACLES["similarity_ann_recall"],
    ),
    "text_langid": (q_text_langid, ORACLES["text_langid"]),
    "text_quality": (q_text_quality, ORACLES["text_quality"]),
    "text_token_count": (q_text_token_count, ORACLES["text_token_count"]),
    "text_fingerprint": (q_text_fingerprint, ORACLES["text_fingerprint"]),
    "text_word_freq": (q_text_word_freq, ORACLES["text_word_freq"]),
    "text_vocab_encode": (q_text_vocab_encode, ORACLES["text_vocab_encode"]),
    "text_word_entropy": (q_text_word_entropy, ORACLES["text_word_entropy"]),
    "text_word_entropy_native": (
        q_text_word_entropy_native,
        ORACLES["text_word_entropy_native"],
    ),
    "text_bigram_lm": (q_text_bigram_lm, ORACLES["text_bigram_lm"]),
    "text_heavy_hitters": (q_text_heavy_hitters, ORACLES["text_heavy_hitters"]),
    "text_sparse_cosine_pairs": (
        q_text_sparse_cosine_pairs,
        ORACLES["text_sparse_cosine_pairs"],
    ),
    "text_containment_pairs": (
        q_text_containment_pairs,
        ORACLES["text_containment_pairs"],
    ),
    "text_unigram_logprob": (
        q_text_unigram_logprob,
        ORACLES["text_unigram_logprob"],
    ),
    "dedup_edit_distance": (q_dedup_edit_distance, ORACLES["dedup_edit_distance"]),
    "dedup_triangles": (q_dedup_triangles, ORACLES["dedup_triangles"]),
    "text_tfidf": (q_text_tfidf, ORACLES["text_tfidf"]),
    "events_running_totals": (
        q_events_running_totals,
        ORACLES["events_running_totals"],
    ),
    "events_tumbling_window": (q_tumbling, ORACLES["events_tumbling_window"]),
    "events_sliding_window": (q_sliding, ORACLES["events_sliding_window"]),
    "events_session_window": (q_session, ORACLES["events_session_window"]),
    "events_user_totals": (q_events_user_totals, ORACLES["events_user_totals"]),
    "skew_salted_group_count": (
        q_skew_salted_group_count,
        ORACLES["skew_salted_group_count"],
    ),
    "skew_salted_join": (q_skew_salted_join, ORACLES["skew_salted_join"]),
    "sketch_accuracy": (q_sketch_accuracy, ORACLES["sketch_accuracy"]),
    "profile_orders": (q_profile_orders, ORACLES["profile_orders"]),
    "corpus_split": (q_corpus_split, ORACLES["corpus_split"]),
    "events_gaps": (q_events_gaps, ORACLES["events_gaps"]),
    "events_json_props": (q_events_json_props, ORACLES["events_json_props"]),
    "unpivot_part": (q_unpivot_part, ORACLES["unpivot_part"]),
    "text_normalize_dedup": (
        q_text_normalize_dedup,
        ORACLES["text_normalize_dedup"],
    ),
    "embedding_norm_hist": (
        q_embedding_norm_hist,
        ORACLES["embedding_norm_hist"],
    ),
    "events_funnel": (q_events_funnel, ORACLES["events_funnel"]),
    "events_locf_fill": (q_events_locf_fill, ORACLES["events_locf_fill"]),
    "text_pmi_bigrams": (q_text_pmi_bigrams, ORACLES["text_pmi_bigrams"]),
    "latest_order_per_customer": (
        q_latest_order_per_customer,
        ORACLES["latest_order_per_customer"],
    ),
    "grouping_sets_orders": (
        q_grouping_sets_orders,
        ORACLES["grouping_sets_orders"],
    ),
    "multimodal_frame_meta": (
        q_multimodal_frame_meta,
        ORACLES["multimodal_frame_meta"],
    ),
    "multimodal_byte_stats": (
        q_multimodal_byte_stats,
        ORACLES["multimodal_byte_stats"],
    ),
    "multimodal_byte_stats_native": (
        q_multimodal_byte_stats_native,
        ORACLES["multimodal_byte_stats_native"],
    ),
    "multimodal_payload_meta": (
        q_multimodal_payload_meta,
        ORACLES["multimodal_payload_meta"],
    ),
}


# exact Jaccard threshold for the prefix-filter join, as an integer
# rational: ceil(t·n) computed as (T_NUM·n + T_DEN − 1) // T_DEN — float
# ceil(0.7·n) returns 22 for n=30 (0.7·30 = 21.000000000000004), so the
# prefix length MUST be integer arithmetic in both engines
PPJOIN_T_NUM = 7
PPJOIN_T_DEN = 10


def q_text_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (AllPairs/PPJoin,
    Bayardo et al. WWW'07 / Xiao et al. WWW'08 — reimplemented from the
    published semantics): every document pair whose word-3-shingle sets
    have Jaccard ≥ 0.7, with NO approximation and NO df cap — the exact
    complement to the MinHash-LSH path (probabilistic recall) and the
    df-capped containment path (truncated sets).

    The trick: order each document's shingles by GLOBAL rarity
    (df asc, shingle asc — a canonical total order), and index only each
    document's PREFIX of length n − ⌈t·n⌉ + 1. If two sets share no
    prefix element under a common order, their intersection lives in
    their suffixes of size ⌈t·n⌉ − 1 < t·n ≤ t·|A∪B|, so Jaccard < t:
    prefix-disjoint pairs are provably below threshold and never become
    candidates. Candidates then verify EXACTLY via array_intersect on the
    full shingle arrays, with the threshold test in integer cross-
    multiplication (T_DEN·|A∩B| ≥ T_NUM·|A∪B|) — no float in any
    decision.

    Scale shape: the candidate join is over PREFIX postings only — the
    rarest ~(1−t)·n shingles of each doc, so posting lists are short by
    construction (rarity order guarantees the prefix picks the least
    frequent shingles; a df-hot shingle can only appear in prefixes of
    docs that have nothing rarer). Verification joins candidates to the
    per-doc shingle arrays — one shuffle of ≤ candidate rows + arrays.
    The df census and the rank window both partition cleanly (shingle,
    doc_id). No all-pairs stage at any corpus size; the LSH hot-bucket
    cap has no analogue here because exactness is the contract — worst-
    case adversarial corpora (all docs identical) degrade to the true
    quadratic OUTPUT size, which no exact algorithm can beat.

    Determinism: ranks are total-ordered by (df, shingle); prefix length
    is integer; verification counts are exact ints; the reported jaccard
    is one int/int double division (correctly rounded identically in
    both engines).
    """
    from pyspark.sql.window import Window

    from filmdatawarehouse_spark.operators.cache import managed_persist

    # persisted: feeds the df census, the rank window, and the per-doc
    # array build (three consumers of one shared shingle derivation —
    # _word_shingle_rows binds the token array before the lambda);
    # shared with the containment query via the memo (r10)
    sh = shingle_rows_shared(spark, sf_dir)

    df_census = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = sh.join(df_census, "shingle")
    w_rank = Window.partitionBy("doc_id").orderBy("df", "shingle")
    w_size = Window.partitionBy("doc_id")
    prefix_len = (
        F.col("n")
        - F.floor(
            (F.lit(PPJOIN_T_NUM) * F.col("n") + F.lit(PPJOIN_T_DEN - 1))
            / F.lit(PPJOIN_T_DEN)
        )
        + F.lit(1)
    )
    # ONE persisted frame for the whole tail (r17, guide §2.4 "two
    # operations keyed the same way can share one exchange"): the
    # windowed (shingle, doc_id, rn, n) frame is persisted ONCE after
    # its doc_id exchange, and BOTH the prefix postings (a filter over
    # the cache — no new shuffle) and the verification arrays (a
    # groupBy(doc_id) whose required distribution the cached window
    # layout already satisfies — no new shuffle) derive from it. The
    # r16 shape persisted only the filtered prefix and re-shuffled the
    # FULL shingle frame a second time for the collect_list sets — at
    # 100 TB that second full-data exchange is the dominant cost this
    # removes; locally it cuts the AQE job count.
    # Persisted 1-partition as AQE sizes it: a sub-parallel-regime
    # repartition was tried at TWO widths and measured slower both
    # times — r16 at defaultParallelism (~2x: 7-10 s vs 3.2 s) and r17
    # at the volume-keyed width 8 — the prefix postings are short by
    # construction, so the candidate join's per-row work is modest and
    # any wide persisted layout only multiplies the distinct/verify
    # stages' task counts.
    ranked_w = managed_persist(
        ranked.withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n", F.count(F.lit(1)).over(w_size))
        .select("shingle", "doc_id", "rn", "n")
    )
    prefix = ranked_w.filter(F.col("rn") <= prefix_len).select(
        "shingle", "doc_id", "n"
    )
    # length filter (the classic AllPairs size pruning): J(A,B) <=
    # min/max of the set sizes, so J >= t forces t·max <= min — checked
    # in both directions with integer cross-multiplication BEFORE the
    # candidate distinct (measured 1.9x candidate reduction at sf0.1:
    # 202,477 -> 104,502 pairs; grows with doc-length variance).
    # Removes only pairs that cannot pass; exactness preserved.
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "shingle")
        .filter(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.lit(PPJOIN_T_DEN) * F.col("a.n")
                >= F.lit(PPJOIN_T_NUM) * F.col("b.n")
            )
            & (
                F.lit(PPJOIN_T_DEN) * F.col("b.n")
                >= F.lit(PPJOIN_T_NUM) * F.col("a.n")
            )
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )
    # the verify below is an array_intersect over the full shingle
    # arrays per candidate pair, the query's heaviest per-row work; its
    # joins are broadcasts (sets is bounded), so partitioning the small
    # candidate frame widens the verify without adding a join exchange
    cand = spread_mid_plan(
        cand, "doc_id_a", "doc_id_b", scan=_docs_scan(spark, sf_dir)
    )

    # persisted: consumed by both the a-side and b-side verification
    # joins. Derived from the CACHED windowed frame (same rows per doc
    # as sh — the census join is key-complete — and sort_array
    # normalizes collect order), so the aggregation reuses the doc_id
    # layout instead of re-shuffling every shingle row a second time.
    sets = managed_persist(
        ranked_w.groupBy("doc_id").agg(
            F.sort_array(F.collect_list("shingle")).alias("arr"),
            F.count(F.lit(1)).alias("n_sh"),
        )
    )
    sa = sets.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("arr").alias("arr_a"),
        F.col("n_sh").alias("n_a"),
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("arr").alias("arr_b"),
        F.col("n_sh").alias("n_b"),
    )
    inter = F.size(F.array_intersect("arr_a", "arr_b"))
    union = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    return (
        cand.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .withColumn("n_inter", inter.cast("bigint"))
        .filter(
            F.lit(PPJOIN_T_DEN) * F.col("n_inter") >= F.lit(PPJOIN_T_NUM) * union
        )
        .select(
            "doc_id_a",
            "doc_id_b",
            "n_inter",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            (F.col("n_inter").cast("double") / union.cast("double")).alias(
                "jaccard"
            ),
        )
    )


ORACLES["text_prefix_filter_pairs"] = f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      FROM w, unnest(range(1, greatest(len(ws) - 1, 1))) AS t(i)
    ), sizes AS (
      SELECT doc_id, COUNT(*)::BIGINT AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             COUNT(*)::BIGINT AS n_inter
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_id_a, doc_id_b, n_inter,
           sa.n AS n_a, sb.n AS n_b,
           n_inter::DOUBLE / (sa.n + sb.n - n_inter)::DOUBLE AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_id_a
    JOIN sizes sb ON sb.doc_id = doc_id_b
    WHERE {PPJOIN_T_DEN} * n_inter >= {PPJOIN_T_NUM} * (sa.n + sb.n - n_inter)
"""

# Session-scoped shared handle to the exact pair frame (VERDICT r06
# item 7 / r07 item 4): `text_prefix_filter_pairs` and `graph_bfs_hops`
# both consume the same PPJoin pair set, and without sharing the ~2s pair
# build executed twice per warm bench pass. The memo is keyed on
# (application, sf_dir, cache generation): `release_managed()` bumps the
# generation, so a released (unpersisted) frame is rebuilt rather than
# silently reused — cold-bench semantics stay honest while a long-lived
# session (the warm pass, a service) pays the build once.
_SHARED_MEMO: dict[tuple[str, str, str, int], DataFrame] = {}
_SHARED_MEMO_GUARD = threading.Lock()  # protects the per-name lock dict
_SHARED_MEMO_LOCKS: dict[str, threading.Lock] = {}


def _memo_lock(name: str) -> threading.Lock:
    with _SHARED_MEMO_GUARD:
        return _SHARED_MEMO_LOCKS.setdefault(name, threading.Lock())


def _shared_persisted(spark: SparkSession, sf_dir: str, name, build) -> DataFrame:
    """Generation-keyed memo of a persisted frame shared across query
    builders (one entry per ``name``; the PPJoin pair frame and the
    MinHash pair frame live here).

    The lookup/build runs under a PER-NAME lock (building one shared
    frame does driver-side plan work including parquet file listing, and
    must not serialize builds of unrelated names), and the cache
    generation is re-read AFTER ``managed_persist``: a concurrent
    ``release_managed()`` between the generation read and the persist
    would otherwise leave a just-unpersisted frame memoized under a dead
    key (rebuilt and double-persisted on every later call until the next
    release — ADVICE r08). On a generation mismatch the build retries
    under the new generation.
    """
    from filmdatawarehouse_spark.operators.cache import (
        cache_generation,
        managed_persist,
    )

    with _memo_lock(name):
        while True:
            gen = cache_generation()
            key = (name, spark.sparkContext.applicationId, sf_dir, gen)
            # dict reads/mutations take the short global guard (holders
            # of DIFFERENT name locks touch the same dict — an unguarded
            # purge comprehension can see it resize mid-iteration); only
            # the expensive build() runs outside it, under the name lock
            with _SHARED_MEMO_GUARD:
                if key in _SHARED_MEMO:
                    return _SHARED_MEMO[key]
                for k in [k for k in _SHARED_MEMO if k[0] == name]:
                    del _SHARED_MEMO[k]  # at most one live entry per name
            df = managed_persist(build())
            if cache_generation() == gen:
                with _SHARED_MEMO_GUARD:
                    _SHARED_MEMO[key] = df
                return df
            # release_managed() raced the persist — df may already be
            # unpersisted; loop to rebuild under the current generation


def prefix_filter_pairs_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PPJoin pair frame shared by `text_prefix_filter_pairs` and
    `graph_bfs_hops` (r08: memoizing it took the second consumer's warm
    cost 0.68 s -> 0.06 s)."""
    return _shared_persisted(
        spark, sf_dir, "ppjoin",
        lambda: q_text_prefix_filter_pairs(spark, sf_dir),
    )


def shingle_rows_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exploded (doc_id, shingle) word-3-shingle frame shared by
    `text_containment_pairs` and the PPJoin pair builder (r10): the
    explode is the dominant build cost of both; each previously persisted
    its own copy per call."""
    return _shared_persisted(
        spark, sf_dir, "shingle_rows",
        lambda: _word_shingle_rows(spark, sf_dir),
    )


def minhash_pairs_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-verified near-dup pair frame (doc_id_a, doc_id_b,
    jaccard) shared by its FIVE raw-documents consumers —
    `dedup_minhash_lsh`, `dedup_clusters`, `dedup_clusters_star`,
    `dedup_edit_distance`, `dedup_triangles` — which each rebuilt the
    full shingle->signature->band->verify subtree per warm call (the
    same repeated-subtree shape the r08 PPJoin memo removed).
    r10: `pipeline_curate_documents` is the sixth consumer, but ONLY
    when cleaning dropped zero documents (count-guarded): LSH candidate
    generation is corpus-dependent through the hot-bucket cap, so a
    restriction of raw pairs is not sound in general — pipeline.py has
    the full argument and the exact fallback."""
    return _shared_persisted(
        spark, sf_dir, "minhash_pairs",
        lambda: dd.minhash_dedup_pairs(
            read_table(spark, sf_dir, "documents").select("doc_id", "text"),
            threshold=JACCARD_T,
        ),
    )


EXTENDED_QUERIES["text_prefix_filter_pairs"] = (
    prefix_filter_pairs_shared,
    ORACLES["text_prefix_filter_pairs"],
)


LONG_WORD_LEN = 8


def q_text_hof_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics computed ENTIRELY with higher-order
    array functions — no explode anywhere: token count, mean/max word
    length, long-word count and ratio, distinct-token count.

    Why it matters at 100 TB: the explode → groupBy(doc_id) idiom
    multiplies the row count by tokens-per-doc (~60× here) and then
    shuffles it all back just to undo the multiplication. HOFs
    (aggregate/transform/filter/array_distinct) compute the same values
    inside the row, map-side, zero shuffle — the plan is scan → project.
    Plan-tested shuffle-free.

    Determinism: all counts/lengths are exact ints; mean length is one
    int/int double division rounded to the 1e-12 grid.
    """
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split(F.col("text"), " ")
    lens = F.transform(words, lambda w: F.length(w))
    total_len = F.aggregate(
        lens, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    n = F.size(words)
    n_long = F.size(F.filter(lens, lambda x: x >= F.lit(LONG_WORD_LEN)))
    return docs.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        F.round(total_len.cast("double") / n.cast("double"), 9).alias(
            "mean_word_len"
        ),
        F.array_max(lens).cast("int").alias("max_word_len"),
        n_long.cast("bigint").alias("n_long_words"),
        F.round(n_long.cast("double") / n.cast("double"), 9).alias(
            "long_ratio"
        ),
        F.size(F.array_distinct(words)).cast("bigint").alias("n_distinct"),
    )


ORACLES["text_hof_stats"] = f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    )
    SELECT doc_id,
           len(ws)::BIGINT AS n_tokens,
           round(list_sum(list_transform(ws, x -> length(x)))::DOUBLE
                 / len(ws), 9) AS mean_word_len,
           list_max(list_transform(ws, x -> length(x)))::INT
             AS max_word_len,
           len(list_filter(ws, x -> length(x) >= {LONG_WORD_LEN}))::BIGINT
             AS n_long_words,
           round(len(list_filter(ws, x -> length(x) >= {LONG_WORD_LEN}))::DOUBLE
                 / len(ws), 9) AS long_ratio,
           len(list_distinct(ws))::BIGINT AS n_distinct
    FROM w
"""

EXTENDED_QUERIES["text_hof_stats"] = (
    q_text_hof_stats,
    ORACLES["text_hof_stats"],
)


# Integer form of CONTAIN_T for the prefix-length arithmetic below —
# ceil(t*n) must be exact integer math, not a float floor. Kept adjacent
# to its only consumer; drift against CONTAIN_T is refused at import.
CONTAIN_T_NUM, CONTAIN_T_DEN = 4, 5
# Explicit raise, not `assert`: the refused-at-import contract must
# survive `python -O` (which strips asserts).
if CONTAIN_T_NUM / CONTAIN_T_DEN != CONTAIN_T:
    raise AssertionError(
        f"CONTAIN_T_NUM/CONTAIN_T_DEN ({CONTAIN_T_NUM}/{CONTAIN_T_DEN}) "
        f"drifted from CONTAIN_T ({CONTAIN_T})"
    )


def q_text_containment_prefix_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``text_containment_pairs`` with PREFIX-FILTERED candidate
    generation — the SAME output rows (df-capped containment ≥
    ``CONTAIN_T``), certified against the identical oracle, but the
    candidate stage indexes only each document's rarest shingles.

    Why it exists (r15 scale probe, SCALING.md "round-15"): the plain
    inverted-index candidate stage emits C(df, 2) pairs per kept
    shingle, and on heavy-tailed shingle distributions the sub-cap df
    band KEEPS FILLING as the corpus grows — measured shuffle-byte
    exponents of 1.51-1.57 per 10x at 200k-400k synthetic docs (within
    the deterministic cap²·n_shingles bound, but super-linear through
    the regime). Prefix filtering attacks exactly that band: a pair
    with containment ≥ t must share a shingle inside the SMALLER
    document's prefix of its (global-rarity-ordered) kept set — if the
    prefix (length a − ⌈t·a⌉ + 1) misses B entirely, the intersection
    fits in the suffix of size ⌈t·a⌉ − 1 < ⌈t·a⌉ ≤ needed overlap
    (AllPairs/PPJoin, Bayardo WWW'07, adapted to the asymmetric
    containment bound: the prefix side must be the pair's MIN-size
    doc, so candidates join the smaller side's prefix against the
    larger side's FULL capped postings). A near-cap-df shingle is
    COMMON among kept shingles, so it rarely survives into any
    document's rarity prefix — the C(df,2) band mass that the plain
    plan shuffles mostly never becomes candidate rows here (measured:
    see the SCALING.md round-15 table). Exactness is preserved:
    candidates verify on the full kept-shingle arrays with the same
    containment expression, so output equality with
    ``text_containment_pairs`` is a frame identity, pinned by
    ``tests/test_containment_prefix.py`` and the shared oracle.

    Determinism: ranks are total-ordered by (df, shingle); prefix
    length is integer; verification counts are exact ints; the one
    double division is the shared containment expression.
    """
    from pyspark.sql.window import Window

    from filmdatawarehouse_spark.operators.cache import managed_persist

    sh = shingle_rows_shared(spark, sf_dir)
    # census inline over the cached shingle frame (not persisted) — the
    # r10 plan-audit rule: persisting the census suppresses broadcasts
    df_census = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # persisted: feeds the prefix filter, the full-postings join side,
    # and the verification arrays (three consumers of one subtree)
    w_rank = Window.partitionBy("doc_id").orderBy("df", "shingle")
    w_size = Window.partitionBy("doc_id")
    ranked = managed_persist(
        sh.join(df_census, "shingle")
        .filter(F.col("df") <= CONTAIN_DF_CAP)
        .withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n", F.count(F.lit(1)).over(w_size))
        .select("shingle", "doc_id", "df", "rn", "n")
    )
    # needed overlap for the min-size doc: ceil(t*n) in exact ints
    need = F.floor(
        (F.lit(CONTAIN_T_NUM) * F.col("n") + F.lit(CONTAIN_T_DEN - 1))
        / F.lit(CONTAIN_T_DEN)
    )
    pref = ranked.filter(F.col("rn") <= F.col("n") - need + F.lit(1)).select(
        "shingle", "doc_id", "n"
    )
    full = ranked.select("shingle", "doc_id", "n")
    # the prefix side must be the pair's min-size member (ties broken by
    # doc_id so each pair has exactly one canonical generator)
    cand = (
        pref.alias("p")
        .join(full.alias("f"), "shingle")
        .filter(
            (F.col("p.n") < F.col("f.n"))
            | (
                (F.col("p.n") == F.col("f.n"))
                & (F.col("p.doc_id") < F.col("f.doc_id"))
            )
        )
        .select(
            F.least("p.doc_id", "f.doc_id").alias("doc_id_a"),
            F.greatest("p.doc_id", "f.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )
    # same verify widening as q_text_prefix_filter_pairs
    cand = spread_mid_plan(
        cand, "doc_id_a", "doc_id_b", scan=_docs_scan(spark, sf_dir)
    )
    sets = ranked.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("shingle")).alias("arr"),
        F.count(F.lit(1)).alias("n_sh"),
    )
    sa = sets.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("arr").alias("arr_a"),
        F.col("n_sh").alias("n_a"),
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("arr").alias("arr_b"),
        F.col("n_sh").alias("n_b"),
    )
    return (
        cand.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .withColumn(
            "n_inter",
            F.size(F.array_intersect("arr_a", "arr_b")).cast("bigint"),
        )
        .withColumn(
            "containment",
            F.col("n_inter").cast("double")
            / F.least("n_a", "n_b").cast("double"),
        )
        .filter(F.col("containment") >= F.lit(CONTAIN_T))
        .select(
            "doc_id_a",
            "doc_id_b",
            "n_inter",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            "containment",
        )
    )


# Same SEMANTICS as text_containment_pairs, so the oracle is the same
# SQL — output equality with the plain plan is exactly the claim the
# prefix filter must defend.
ORACLES["text_containment_prefix_pairs"] = ORACLES["text_containment_pairs"]

EXTENDED_QUERIES["text_containment_prefix_pairs"] = (
    q_text_containment_prefix_pairs,
    ORACLES["text_containment_prefix_pairs"],
)


# Size-keyed dispatch threshold (VERDICT r15 item 2). The two
# containment plans are output-identical; which one is CHEAPER is a
# measured byte crossover (SCALING.md "Round-15"): at 200k docs the
# plain plan shuffles less (789.6 vs 863.9 MB — the prefix plan pays
# fixed linear stages: the rarity-rank window and the verification
# arrays), at 400k it shuffles 1.4x MORE (2,335.6 vs 1,678.0 MB) and
# its byte exponent is still 1.57/doubling vs the prefix plan's 0.958.
# Interpolating those measured exponents puts the absolute-bytes
# crossover at ~230k docs; 200_000 keeps the switch conservative —
# past it the plain plan's superlinear candidate band only worsens,
# so flipping slightly early costs a few percent once and never pays
# the 1.57-exponent tax.
CONTAIN_DISPATCH_DOCS = 200_000


def containment_plan_for(n_docs: int) -> str:
    """Which containment plan the dispatcher runs at ``n_docs``
    corpus documents: ``"plain"`` at/below the measured byte crossover,
    ``"prefix"`` beyond it (constants above; SCALING.md "Round-15")."""
    return "plain" if n_docs <= CONTAIN_DISPATCH_DOCS else "prefix"


def q_text_containment_auto_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The containment entry point callers should use: picks the plain
    inverted-index plan or the prefix-filtered plan from CORPUS SIZE,
    so the measured crossover (SCALING.md "Round-15") selects the plan
    instead of the caller having to know it exists. Both plans are
    certified output-identical against the same oracle
    (``tests/test_containment_prefix.py`` pins the frame identity and
    this dispatcher's selection), so the dispatch is a pure cost
    choice; the count it keys on is one metadata-cheap aggregate over
    the documents scan, a rounding error next to either plan's
    shingle explosion."""
    n_docs = read_table(spark, sf_dir, "documents").count()
    if containment_plan_for(n_docs) == "plain":
        return q_text_containment_pairs(spark, sf_dir)
    return q_text_containment_prefix_pairs(spark, sf_dir)


ORACLES["text_containment_auto_pairs"] = ORACLES["text_containment_pairs"]

EXTENDED_QUERIES["text_containment_auto_pairs"] = (
    q_text_containment_auto_pairs,
    ORACLES["text_containment_auto_pairs"],
)
