"""Deduplication operators: exact, MinHash+LSH, char-n-gram, SimHash,
embedding-cosine.

The reference's only dedup is full-row ``drop_duplicates`` (D1,
`dags/rentalFilmDAG.py:29`); a 100 TB training-data pipeline needs fuzzy
dedup too. Design stance for scale:

- candidate generation NEVER compares all pairs: MinHash banding (shingle →
  signature → band bucket → equi-join on bucket) and SimHash block pigeonhole
  (Hamming ≤ 3 ⇒ one of 4 15-bit blocks equal) turn O(n²) into
  shuffle-on-key joins;
- verification (exact Jaccard / exact Hamming) runs only on candidates;
- everything is built-in expressions (md5, conv, array ops) — JVM-side,
  no Python UDFs; one shuffle per stage (explode → groupBy doc, join on
  bucket).

MinHash recall: word shingles use 32 perms / 16 bands × 2 rows (a pair at
Jaccard 0.8 missed with p ≈ 1e-7); char n-grams use 128 perms / 16 bands × 8
rows (steeper curve — the background char-gram similarity is much higher; see
``ngram_jaccard_pairs``). Verification is exact on candidates either way.
SimHash block recall is exact (pigeonhole), not probabilistic.

Hashing is cross-engine portable: shingle/token hash = first 8 (or 15) hex
chars of md5 as an integer, permutations are (a*h + b) mod p with constants
from a fixed seed — the DuckDB oracle replays the identical arithmetic.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from filmdatawarehouse_spark.io.sources import spread_heavy_stage
from filmdatawarehouse_spark.operators.cache import managed_persist

MERSENNE_P = 2_147_483_647  # 2^31 - 1
# LSH/SimHash hot-bucket guard: a bucket of B docs yields B(B-1)/2 candidate
# rows in the self-join — one degenerate bucket (mass-duplicated boilerplate)
# makes a single task quadratic. Buckets above the cap are excluded from
# candidate generation (see lsh_candidate_pairs for the recall argument).
BUCKET_CAP = 1024
# 32 perms / 16 bands x 2 rows: a pair at Jaccard 0.8 is missed with
# probability (1-0.8^2)^16 ≈ 1e-7; planted near-dups (J≈0.97) at ~1e-19.
# Halving from the textbook 64 halves Catalyst plan-build + codegen cost of
# the min-aggregate stage; crank `num_perm` up for lower thresholds.
NUM_PERM = 32
BAND_ROWS = 2
SIMHASH_BITS = 60  # 15 hex chars of md5 -> fits a signed 64-bit int
SIMHASH_BLOCKS = 4  # pigeonhole: hamming <= SIMHASH_BLOCKS-1 guaranteed


def _perm_constants(num_perm: int = NUM_PERM, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) for h_i(x) = (a*x + b) mod p. Fixed seed so the
    SQL oracle can embed the same constants."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE_P), rng.randrange(0, MERSENNE_P))
        for _ in range(num_perm)
    ]


def word_ngrams_all(toks: Column, n: int) -> Column:
    """ALL word n-grams of a token array (space-joined), position order,
    duplicates kept — the occurrence-weighted form ``dupcoverage``
    consumes; ``word_shingles`` is its distinct set.

    ``toks`` MUST be a bound column (select ``split(text,' ')`` into a named
    column first), not an inline ``split(...)`` expression: Catalyst
    re-evaluates a non-trivial expression at every lambda reference, turning
    the shingling quadratic (measured 15x slower inline).
    """
    # guard: sequence(0, size-n) DESCENDS when size < n (Spark generates a
    # reverse range), indexing past the array — short docs get no shingles
    idx = F.when(
        F.size(toks) >= F.lit(n), F.sequence(F.lit(0), F.size(toks) - F.lit(n))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + F.lit(k + 1)) for k in range(n)])
    )


def word_shingles(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a token array (the MinHash
    input form; see ``word_ngrams_all`` for the binding caveat)."""
    return F.array_distinct(word_ngrams_all(toks, n))


def word_shingle_frame(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, shingles): hashed distinct word n-gram shingles, with the token
    array bound as a column before the per-shingle lambda touches it."""
    with_toks = docs.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_toks")
    )
    return with_toks.select(
        F.col(id_col),
        hashed_shingles(word_shingles(F.col("_toks"), n)).alias("shingles"),
    )


def char_ngrams(text: Column | str, n: int = 5) -> Column:
    """Distinct character n-grams. Texts shorter than ``n`` get an empty
    set (the unguarded reverse-sequence would feed ``substr`` negative
    positions, which silently index from the END of the string)."""
    c = F.col(text) if isinstance(text, str) else text
    idx = F.when(
        F.length(c) >= F.lit(n), F.sequence(F.lit(1), F.length(c) - F.lit(n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.array_distinct(F.transform(idx, lambda i: c.substr(i, F.lit(n))))


def _hash32(s: Column) -> Column:
    """Portable 32-bit hash: first 8 hex chars of md5 as integer."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint")


def _hash60(s: Column) -> Column:
    """Portable 60-bit hash: first 15 hex chars of md5 as integer."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


def exact_dedup(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Exact dedup: hash-groupBy on all (or given) columns — distributed
    two-phase aggregate, map-side partial dedup before the shuffle."""
    return df.dropDuplicates(cols) if cols else df.dropDuplicates()


def exact_dup_groups(docs: DataFrame, key: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact-duplicate groups over a column: survivor id + group size."""
    return docs.groupBy(key).agg(
        F.min(id_col).alias("survivor_id"), F.count(F.lit(1)).alias("n_copies")
    )


def hashed_shingles(shingles: Column) -> Column:
    """Distinct 32-bit md5-derived hashes of a shingle array. Downstream
    Jaccard is computed over these int sets (the production MinHash semantic:
    cheap int-array intersections instead of long-string compares; the SQL
    oracle hashes identically, so any hash collision affects both engines
    the same way)."""
    return F.array_distinct(F.transform(shingles, _hash32))


def minhash_signatures(
    docs: DataFrame,
    hashes_col: Column,
    id_col: str = "doc_id",
    num_perm: int = NUM_PERM,
    seed: int = 42,
    keep_shingles: bool = False,
) -> DataFrame:
    """(id, sig_0..sig_{k-1}[, shingles]): min over shingle hashes of
    (a_i*h + b_i) mod p.

    Signatures are a pure per-document computation, so they run as a
    ZERO-SHUFFLE Arrow-batched ``mapInPandas`` stage: each partition
    vectorizes the k×|shingles| modular arithmetic in numpy (int64, no
    overflow: a < p < 2^31). The previous explode→groupBy(id) shape paid a
    full shuffle of every (doc, shingle) row plus k interpreted
    min-aggregates — measured ~4× slower at 128 perms on 15M shingle rows.

    With ``keep_shingles`` the hashed shingle array passes through, so the
    candidate and verify branches are projections of this one frame —
    persist it (see ``_verified_pairs_from_sigs``) to share the Python stage
    across branches.
    """
    import numpy as np
    import pandas as pd

    perms = _perm_constants(num_perm, seed)
    a_const = np.array([a for a, _ in perms], dtype=np.int64)[:, None]
    b_const = np.array([b for _, b in perms], dtype=np.int64)[:, None]
    p = MERSENNE_P
    sig_names = [f"sig_{i}" for i in range(num_perm)]
    base = docs.select(F.col(id_col), hashes_col.alias("_sh"))

    def gen(batches):
        for pdf in batches:
            ids, sig_rows, kept = [], [], []
            for did, arr in zip(pdf[id_col], pdf["_sh"]):
                h = np.asarray(arr, dtype=np.int64)
                if h.size == 0:
                    # explode+groupBy semantics: a shingle-less doc has no row
                    continue
                hm = h % p
                # same integers as the SQL twin: min((a*(h%p)+b) % p);
                # a < p < 2^31 and h%p < 2^31 keep a*h below 2^62 in int64
                sig_rows.append(((a_const * hm[None, :] + b_const) % p).min(axis=1))
                ids.append(did)
                kept.append(arr)
            out = pd.DataFrame(
                np.vstack(sig_rows)
                if sig_rows
                else np.empty((0, num_perm), dtype=np.int64),
                columns=sig_names,
            )
            out.insert(0, id_col, pd.Series(ids, dtype="int64"))
            if keep_shingles:
                # object dtype, explicitly: equal-length arrays would be
                # coerced into one 2-D block that Arrow refuses to convert
                out["shingles"] = pd.Series(kept, dtype=object)
            yield out

    schema = f"{id_col} long, " + ", ".join(f"{s} long" for s in sig_names)
    if keep_shingles:
        schema += ", shingles array<long>"
    return base.mapInPandas(gen, schema)


def hot_buckets(buckets: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """Bucket keys whose population exceeds ``cap`` — tiny by definition
    (each hot bucket is one row). Exposed so callers can count/log what the
    guard dropped before trusting a capped run."""
    return (
        buckets.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") > cap)
    )


def _drop_hot_buckets(
    buckets: DataFrame,
    keys: list[str],
    cap: int | None,
    max_group_rows: int | None = None,
) -> DataFrame:
    """Guard is PAY-AS-YOU-GO: when the caller knows a cheap upper bound on
    any group's size (``max_group_rows`` — for LSH/SimHash/IVF bucketing
    that's simply the corpus row count, one metadata-cheap ``count()``)
    and the bound proves no bucket can exceed ``cap``, the census
    aggregation + anti-join are skipped entirely — identical output, zero
    guard cost. The census only runs when a hot bucket is actually
    possible."""
    if cap is None:
        return buckets
    if max_group_rows is not None and max_group_rows <= cap:
        return buckets
    hot = hot_buckets(buckets, keys, cap).select(*keys)
    # the hot set is tiny → broadcast anti-join; the big bucket frame keeps
    # its partitioning and the aggregation is map-side-combined on the same
    # key the self-join shuffles on anyway
    return buckets.join(F.broadcast(hot), keys, "left_anti")


def _band_bucket_frame(
    sigs: DataFrame,
    id_col: str,
    num_perm: int,
    band_rows: int = BAND_ROWS,
) -> DataFrame:
    """(id, band, bucket) rows for LSH banding: bucket = md5 of the band's
    signature slice. Shared by the self-join (full-corpus dedup) and the
    asymmetric delta⋈corpus (incremental dedup) candidate generators."""
    n_bands = num_perm // band_rows
    bands = F.array(
        *[
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"sig_{b * band_rows + r}").cast("string")
                        for r in range(band_rows)
                    ],
                )
            )
            for b in range(n_bands)
        ]
    )
    return sigs.select(F.col(id_col), F.posexplode(bands).alias("band", "bucket"))


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = NUM_PERM,
    band_rows: int = BAND_ROWS,
    bucket_cap: int | None = BUCKET_CAP,
    n_docs: int | None = None,
) -> DataFrame:
    """Banding: bucket = md5 of the band's signature slice; candidates are
    pairs sharing any (band, bucket) — an equi-join, never a cross join.

    Hot-bucket guard: (band, bucket) groups larger than ``bucket_cap`` are
    excluded before the self-join (B docs → B²/2 rows otherwise). A true
    pair loses its candidate row only if EVERY band it collides in is hot —
    for near-duplicate pairs that share most bands, that needs corpus-wide
    boilerplate duplication across all of them; the exact-verify tail means
    the guard can only lose recall, never precision. Pass ``None`` to
    disable; use ``hot_buckets`` to audit what a cap would drop. Passing
    ``n_docs`` (the corpus row count — an upper bound on any bucket) lets
    the guard skip its census when no bucket can be hot.
    """
    buckets = _band_bucket_frame(sigs, id_col, num_perm, band_rows)
    buckets = _drop_hot_buckets(
        buckets, ["band", "bucket"], bucket_cap, max_group_rows=n_docs
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def _jaccard(sh_a: Column, sh_b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays; int/int division in
    double — operand-order identical to the SQL twin."""
    return F.size(F.array_intersect(sh_a, sh_b)).cast("double") / F.size(
        F.array_union(sh_a, sh_b)
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    shingle_words: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = NUM_PERM,
    seed: int = 42,
    cache: bool = True,
    bucket_cap: int | None = BUCKET_CAP,
    n_docs: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by word-shingle Jaccard ≥ threshold.

    MinHash+LSH generates candidates (one shuffle + one equi-join); exact
    Jaccard over hashed shingles verifies, so the output is exact given the
    ~1e-7-per-pair LSH miss probability at the threshold.
    Returns (doc_id_a, doc_id_b, jaccard).
    """
    # spread BEFORE the shingle projection so the per-shingle md5 chain
    # and the numpy signature stage both run post-exchange (parallel)
    sigs = spread_heavy_stage(
        docs.select(id_col, text_col),
        id_col,
        stage=lambda base: minhash_signatures(
            word_shingle_frame(base, id_col, text_col, shingle_words),
            F.col("shingles"), id_col, num_perm, seed, keep_shingles=True,
        ),
    )
    return _verified_pairs_from_sigs(
        sigs, threshold, id_col, num_perm, cache=cache,
        bucket_cap=bucket_cap, n_docs=n_docs,
    )


def _verified_pairs_from_sigs(
    sigs: DataFrame,
    threshold: float,
    id_col: str,
    num_perm: int,
    band_rows: int = BAND_ROWS,
    cache: bool = True,
    bucket_cap: int | None = BUCKET_CAP,
    n_docs: int | None = None,
) -> DataFrame:
    """Banding candidates + exact-Jaccard verify over a prebuilt
    (id, sig_*, shingles) frame.

    The signature frame comes out of one ``mapInPandas`` stage, which is
    opaque to Catalyst: the candidate branch and both verify branches
    can't be column-pruned into it, they re-execute it. So it is
    persisted by default (MEMORY_AND_DISK): one shingle+signature pass
    instead of three. Spark evicts LRU under pressure; pass
    ``cache=False`` to opt out (e.g. single-branch custom tails).
    """
    if cache:
        sigs = managed_persist(sigs)
    cands = lsh_candidate_pairs(
        sigs, id_col, num_perm, band_rows, bucket_cap, n_docs=n_docs
    )
    a = sigs.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sigs.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", _jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select(
            F.col("id_a").alias("doc_id_a"),
            F.col("id_b").alias("doc_id_b"),
            "jaccard",
        )
    )


def incremental_dedup_flags(
    corpus: DataFrame,
    delta: DataFrame,
    threshold: float = 0.8,
    shingle_words: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = NUM_PERM,
    seed: int = 42,
    bucket_cap: int | None = BUCKET_CAP,
    n_corpus: int | None = None,
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus — the shape every
    continuously-ingesting pipeline actually runs (the full self-join dedup
    is the bootstrap; day-to-day work is delta-vs-corpus). Returns one row
    per delta document: (id, exact_dup, near_dup, accept) where

    - ``exact_dup`` — the delta text equals some corpus text verbatim,
    - ``near_dup``  — word-shingle Jaccard ≥ ``threshold`` against some
      corpus document (MinHash+LSH candidates, exact-Jaccard verified),
    - ``accept``    — neither flag set: the document enters the corpus.

    Scale shape: cost is driven by the DELTA, not the corpus. The exact
    check is a semi-join on the text key; the near check joins delta band
    buckets against corpus band buckets (an equi-join keyed by
    (band, bucket) — never a corpus self-join), so corpus signatures are
    computed once per batch here but in production are PERSISTED at ingest
    and only scanned — the incremental marginal cost is
    O(|delta| + matching buckets). Hot corpus buckets are capped like the
    self-join path (``bucket_cap``). ``n_corpus`` is an optional
    externally-KNOWN row bound (e.g. from ingest metadata) that lets the
    guard skip its census when no bucket can exceed the cap; never compute
    a scan just to supply it — without it the census aggregation runs
    distributed and produces the identical result. Short delta docs (< ``shingle_words`` words)
    have no shingles and can only be exact-duplicates.
    """
    delta_ids = delta.select(F.col(id_col))

    corpus_texts = corpus.select(F.col(text_col).alias("_t")).distinct()
    exact = (
        delta.select(F.col(id_col), F.col(text_col).alias("_t"))
        .join(corpus_texts, "_t", "left_semi")
        .select(F.col(id_col), F.lit(1).alias("exact_dup"))
    )

    sig_c = managed_persist(
        minhash_signatures(
            word_shingle_frame(corpus, id_col, text_col, shingle_words),
            F.col("shingles"), id_col, num_perm, seed, keep_shingles=True,
        )
    )
    sig_d = managed_persist(
        minhash_signatures(
            word_shingle_frame(delta, id_col, text_col, shingle_words),
            F.col("shingles"), id_col, num_perm, seed, keep_shingles=True,
        )
    )
    buckets_c = _drop_hot_buckets(
        _band_bucket_frame(sig_c, id_col, num_perm),
        ["band", "bucket"], bucket_cap, max_group_rows=n_corpus,
    )
    buckets_d = _band_bucket_frame(sig_d, id_col, num_perm)
    cands = (
        buckets_d.withColumnRenamed(id_col, "_did")
        .join(
            buckets_c.withColumnRenamed(id_col, "_cid"),
            ["band", "bucket"],
        )
        .select("_did", "_cid")
        .distinct()
    )
    near = (
        cands.join(
            sig_d.select(F.col(id_col).alias("_did"), F.col("shingles").alias("_sh_d")),
            "_did",
        )
        .join(
            sig_c.select(F.col(id_col).alias("_cid"), F.col("shingles").alias("_sh_c")),
            "_cid",
        )
        .filter(_jaccard(F.col("_sh_d"), F.col("_sh_c")) >= F.lit(threshold))
        .select(F.col("_did").alias(id_col))
        .distinct()
        .withColumn("near_dup", F.lit(1))
    )

    return (
        delta_ids.join(exact, id_col, "left")
        .join(near, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("exact_dup"), F.lit(0)).alias("exact_dup"),
            F.coalesce(F.col("near_dup"), F.lit(0)).alias("near_dup"),
            (
                (F.coalesce(F.col("exact_dup"), F.lit(0)) == 0)
                & (F.coalesce(F.col("near_dup"), F.lit(0)) == 0)
            )
            .cast("int")
            .alias("accept"),
        )
    )


def byte_ngram_signatures(
    docs: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 128,
    seed: int = 42,
) -> DataFrame:
    """(id, sig_0..k-1, shingles): byte-n-gram shingles AND their MinHash
    signatures in ONE zero-shuffle Arrow stage.

    The char-gram path originally generated grams JVM-side (per-index
    ``substr`` + per-gram md5 — the single most expensive stage of the
    n-gram dedup at sf0.1) and then shipped the arrays into the numpy
    signature stage. Fused instead: each task turns the utf-8 bytes into
    n-wide sliding windows (``sliding_window_view``), encodes every gram as
    a BIJECTIVE base-256 integer (no hash, no collisions — requires
    ``n ≤ 7`` bytes to fit int64), uniques them, and runs the permutation
    arithmetic — one pass, nothing but (id, text) crossing into Python.

    The encoding is exactly replayable in SQL as
    ``('0x' || hex(encode(g)))::BIGINT`` (big-endian byte order — the hex
    reading). For ASCII text byte-grams equal char-grams; for multi-byte
    UTF-8 the window is over BYTES (documented semantic of this operator).
    Jaccard over bijectively-encoded sets is exactly Jaccard over the gram
    sets — strictly stronger than the hashed variant.
    """
    import numpy as np
    import pandas as pd

    if n > 7:
        raise ValueError(f"base-256 gram encoding needs n <= 7 bytes, got {n}")
    perms = _perm_constants(num_perm, seed)
    a_const = np.array([a for a, _ in perms], dtype=np.int64)[:, None]
    b_const = np.array([b for _, b in perms], dtype=np.int64)[:, None]
    p = MERSENNE_P
    weights = (256 ** np.arange(n - 1, -1, -1)).astype(np.int64)
    sig_names = [f"sig_{i}" for i in range(num_perm)]

    def gen(batches):
        for pdf in batches:
            ids, sig_rows, kept = [], [], []
            for did, txt in zip(pdf[id_col], pdf[text_col]):
                raw = np.frombuffer(txt.encode("utf-8"), dtype=np.uint8)
                if raw.size < n:
                    continue  # no shingles -> no row (matches explode form)
                grams = np.unique(
                    np.lib.stride_tricks.sliding_window_view(raw, n).astype(
                        np.int64
                    )
                    @ weights
                )
                hm = grams % p
                sig_rows.append(((a_const * hm[None, :] + b_const) % p).min(axis=1))
                ids.append(did)
                kept.append(grams)
            out = pd.DataFrame(
                np.vstack(sig_rows)
                if sig_rows
                else np.empty((0, num_perm), dtype=np.int64),
                columns=sig_names,
            )
            out.insert(0, id_col, pd.Series(ids, dtype="int64"))
            out["shingles"] = pd.Series(kept, dtype=object)
            yield out

    schema = (
        f"{id_col} long, "
        + ", ".join(f"{s} long" for s in sig_names)
        + ", shingles array<long>"
    )
    return spread_heavy_stage(
        docs.select(id_col, text_col),
        id_col,
        stage=lambda base: base.mapInPandas(gen, schema),
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 128,
    band_rows: int = 8,
    seed: int = 42,
    cache: bool = True,
    bucket_cap: int | None = BUCKET_CAP,
    n_docs: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by byte-n-gram Jaccard ≥ threshold — the MinHash
    +LSH candidate machinery over the fused shingle+signature stage
    (``byte_ngram_signatures``).

    Char-gram sets of unrelated documents overlap far more than word-shingle
    sets (measured background J ≈ 0.2-0.4 on the corpus vs < 0.1 for words),
    so the banding is steeper: 16 bands × 8 rows. Collision at background
    J=0.35 is ~0.35% (candidates stay ~linear); a true pair at J=0.9 is
    missed with p=(1-0.9^8)^16 ≈ 1e-4, at J=0.97 ≈ 5e-11.
    """
    sigs = byte_ngram_signatures(docs, n, id_col, text_col, num_perm, seed)
    return _verified_pairs_from_sigs(
        sigs, threshold, id_col, num_perm, band_rows, cache=cache,
        bucket_cap=bucket_cap, n_docs=n_docs,
    )


def simhash_values(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Frequency-weighted 60-bit SimHash per document.

    Token hashing stays JVM-side (portable md5 over the token multiset —
    term frequency is the weight); the ±1 bit-sum and bit-pack are pure
    per-document math, run as a zero-shuffle numpy ``mapInPandas`` stage
    (same shape as ``minhash_signatures``; the explode→groupBy form paid a
    token-level shuffle plus 60 sum-aggregates).
    """
    import numpy as np
    import pandas as pd

    shifts = np.arange(SIMHASH_BITS, dtype=np.int64)

    def gen(batches):
        for pdf in batches:
            ids, vals = [], []
            for did, arr in zip(pdf[id_col], pdf["_h"]):
                h = np.asarray(arr, dtype=np.int64)
                bits = (h[:, None] >> shifts) & 1
                sums = (2 * bits - 1).sum(axis=0)
                ids.append(did)
                vals.append(int(((sums > 0).astype(np.int64) << shifts).sum()))
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "simhash": pd.Series(vals, dtype="int64"),
                }
            )

    def stage(spread_docs: DataFrame) -> DataFrame:
        # the per-token md5 projection is heavy per-row work too, so it
        # runs after the spread, with the numpy bit-sum
        hashed = spread_docs.select(
            F.col(id_col),
            F.transform(F.split(F.col(text_col), " "), _hash60).alias("_h"),
        )
        return hashed.mapInPandas(gen, f"{id_col} long, simhash long")

    return spread_heavy_stage(docs.select(id_col, text_col), id_col, stage=stage)


def simhash_pairs(
    docs: DataFrame,
    hamming_max: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_cap: int | None = BUCKET_CAP,
    n_docs: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs with SimHash Hamming distance ≤ hamming_max.

    Scale path: split the 60-bit hash into 4 15-bit blocks; Hamming ≤ 3
    implies at least one block is equal (pigeonhole), so candidates come from
    an equi-join on (block_idx, block_value) — guaranteed recall, no cross
    join. Returns (doc_id_a, doc_id_b, hamming).

    Hot-bucket guard: (blk, blk_val) groups above ``bucket_cap`` are
    excluded (same quadratic-task risk as LSH banding). NOTE this weakens
    the pigeonhole recall guarantee to "exact unless all of a pair's equal
    blocks are corpus-hot" — a capped run trades that tail for bounded task
    size; pass ``None`` to keep the hard guarantee.
    """
    if hamming_max >= SIMHASH_BLOCKS:
        raise ValueError(
            f"block pigeonhole guarantees recall only for hamming_max < "
            f"{SIMHASH_BLOCKS}; got {hamming_max}"
        )
    # persist: the hash frame feeds both sides of the block self-join, and a
    # Python stage is opaque to Catalyst (it would run once per branch)
    sh = managed_persist(simhash_values(docs, id_col, text_col))
    block_bits = SIMHASH_BITS // SIMHASH_BLOCKS
    mask = (1 << block_bits) - 1
    blocks = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), j * block_bits).bitwiseAND(
                        F.lit(mask)
                    )
                    for j in range(SIMHASH_BLOCKS)
                ]
            )
        ).alias("blk", "blk_val"),
    )
    blocks = _drop_hot_buckets(
        blocks, ["blk", "blk_val"], bucket_cap, max_group_rows=n_docs
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.blk_val") == F.col("b.blk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_id_a"),
            F.col(f"b.{id_col}").alias("doc_id_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return (
        cands.withColumn(
            "hamming",
            F.bit_count(F.expr("sim_a ^ sim_b")).cast("int"),
        )
        .filter(F.col("hamming") <= F.lit(hamming_max))
        .select("doc_id_a", "doc_id_b", "hamming")
    )


def dup_clusters(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_id_a",
    b_col: str = "doc_id_b",
    max_iters: int = 20,
) -> DataFrame:
    """Connected components over near-duplicate pairs: every id gets
    ``cluster_id`` = the smallest id reachable through the pair graph
    (singletons cluster to themselves). This is the operator a curation
    pipeline actually keeps — pairs are evidence, the component is the
    dedup decision (keep one survivor per cluster).

    Iterative min-label propagation (the classic BSP shape): labels start
    as the id; each round every node takes the min of its own label and its
    neighbors' labels; stop when a round changes nothing. Rounds needed =
    graph diameter — near-dup components are near-cliques, so 2-3 rounds in
    practice; ``max_iters`` bounds adversarial chains. Each round is one
    shuffle (join on the edge key + a min-aggregate); the convergence check
    is a count action on the changed set. At larger diameters switch to
    large-star/small-star (doubles reach per round) — same join machinery.

    Returns (id_col, cluster_id). The SQL oracle replays it as a recursive
    transitive closure (WITH RECURSIVE + min per node).

    Raises ``RuntimeError`` if labels are still changing after
    ``max_iters`` rounds — silently returning partially-propagated labels
    would hand the caller WRONG clusters (ADVICE r2). A component whose
    diameter legitimately exceeds the bound needs a larger ``max_iters``
    or the large-star/small-star variant, not a truncated answer.
    """
    edges = pairs.select(
        F.col(a_col).alias("_src"), F.col(b_col).alias("_dst")
    ).unionByName(
        pairs.select(F.col(b_col).alias("_src"), F.col(a_col).alias("_dst"))
    )
    edges = managed_persist(edges)
    # localCheckpoint (not persist): each round's labels TRUNCATE lineage,
    # so the returned plan is one cached scan, not max_iters stacked
    # joins — a cache eviction can never trigger a full-history replay
    # (the iterative-algorithm standard; GraphX/GraphFrames checkpoint the
    # same way).
    labels = ids.select(
        F.col(id_col), F.col(id_col).alias("cluster_id")
    ).localCheckpoint()
    for _ in range(max_iters):
        prop = (
            labels.join(edges, labels[id_col] == edges["_src"])
            .select(F.col("_dst").alias(id_col), "cluster_id")
        )
        # ONE job per round (was two): the new labels carry a per-row
        # changed flag (join against the old labels on the same id
        # partitioning), the checkpoint is LAZY, and the convergence count
        # is the action that materializes it — so label computation and
        # the convergence check share a single pass.
        new_labels = (
            labels.unionByName(prop)
            .groupBy(id_col)
            .agg(F.min("cluster_id").alias("cluster_id"))
            .join(
                labels.select(
                    F.col(id_col), F.col("cluster_id").alias("_old")
                ),
                id_col,
            )
            .select(
                id_col,
                "cluster_id",
                (F.col("cluster_id") != F.col("_old")).alias("_chg"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter(F.col("_chg")).count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"dup_clusters did not converge within max_iters={max_iters} "
            f"rounds ({changed} labels still changing); raise max_iters or "
            "use star_contraction_clusters (O(log n) rounds) for "
            "high-diameter graphs"
        )
    return labels


def star_contraction_clusters(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_id_a",
    b_col: str = "doc_id_b",
    max_iters: int = 40,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction — the O(log n)-round algorithm for HIGH-DIAMETER graphs,
    where ``dup_clusters``'s min-label BSP needs diameter rounds (a
    10^6-node chain would take 10^6 shuffles; this takes ~20). Public
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond"); re-expressed as DataFrame joins/aggregations.

    Per round, two operations over the (symmetric) edge set:

    - large-star: every node u links each LARGER neighbor v > u to
      m = min(neighborhood(u) ∪ {u}) — long chains fold toward small ids
      without ever increasing edge count beyond 2|E|.
    - small-star: every node u links its smaller-or-equal neighbors and
      itself to that same m — flattening each partial tree into a star.

    At convergence the edge set IS the component mapping (node → component
    min). Same output contract as ``dup_clusters``: (id_col, cluster_id),
    singletons cluster to themselves; raises RuntimeError if not converged
    within ``max_iters`` (components at that point may be partially
    merged — never return them).

    Scale shape: each operation is one groupBy-min plus one equi-join on
    the node key (2 shuffles/round, log rounds); edges are
    localCheckpointed per round so the plan never stacks; the convergence
    probe is an order-insensitive (count, xor-of-hashes) signature
    computed in the SAME action that materializes the round.
    """
    sym = pairs.select(
        F.col(a_col).alias("u"), F.col(b_col).alias("v")
    ).unionByName(
        pairs.select(F.col(b_col).alias("u"), F.col(a_col).alias("v"))
    )

    def _mins(e: DataFrame) -> DataFrame:
        return (
            e.groupBy("u")
            .agg(F.min("v").alias("_mv"))
            .select("u", F.least(F.col("u"), F.col("_mv")).alias("m"))
        )

    def large_star(e: DataFrame) -> DataFrame:
        # e must be symmetric; emits undirected (v, m) for v > u
        return (
            e.join(_mins(e), "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # e is (child, parent) with child >= parent from large-star;
        # group children by parent? No: by u over edges v <= u, plus self
        ee = e.filter(F.col("v") <= F.col("u"))
        m = _mins(ee)
        return (
            ee.join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(m.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def signature(e: DataFrame) -> tuple[int, int]:
        # bit_xor, not sum: xxhash64 spans the full int64 range and a sum
        # overflows (an ANSI error); xor is order-insensitive and closed
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        return int(row["n"]), int(row["h"])

    edges = sym.localCheckpoint()
    prev_sig = None
    for _ in range(max_iters):
        # large-star needs a symmetric view of the current edge set
        symmetric = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()
        ls = large_star(symmetric)
        edges = small_star(ls).localCheckpoint(eager=False)
        sig = signature(edges)  # materializes the checkpoint too
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"star_contraction_clusters did not converge within "
            f"max_iters={max_iters} rounds; the graph is adversarial or "
            "max_iters is too low for its size"
        )
    # converged edge set is (node, component-min) for every non-root node
    mapping = edges.select(
        F.col("u").alias(id_col), F.col("v").alias("cluster_id")
    )
    return (
        ids.select(id_col)
        .join(mapping, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
        )
    )


def embedding_cosine_candidates(
    emb: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """Distributed exact-cosine candidate pairs — block-pair GEMM, no driver
    collect anywhere in the plan.

    The classic all-pairs blocking scheme: every vector lands in block
    ``g = id mod n_blocks``; each row is replicated to the ``n_blocks``
    unordered block pairs ``(min(g,h), max(g,h))`` that need it, and a
    grouped Arrow stage (``applyInPandas`` on the pair key) runs one BLAS
    GEMM per block pair, emitting id pairs with GEMM-cosine ≥
    threshold − 1e-9. The margin covers summation-order differences between
    BLAS and the sequential fold (~1e-13 worst case at this dim), so no
    true pair can be missed — candidates are a superset of the exact answer.

    Scale math: one shuffle of ``n · n_blocks`` rows; each task holds at
    most two blocks (``2n/n_blocks`` vectors) — pick ``n_blocks`` so a
    block fits executor memory and the n² flops spread over
    ``n_blocks(n_blocks+1)/2`` tasks. No node ever sees the whole
    collection; the driver sees none of it. A pair is produced by exactly
    one block-pair group, so no dedup pass is needed.
    """
    import numpy as np
    import pandas as pd

    cutoff = threshold - 1e-9
    g = F.pmod(F.col(id_col).cast("bigint"), F.lit(n_blocks))
    pairs = F.array(
        *[
            F.struct(
                F.least(g, F.lit(h)).cast("int").alias("bi"),
                F.greatest(g, F.lit(h)).cast("int").alias("bj"),
                # which side of the GEMM this row feeds in an off-diagonal
                # pair; diagonal pairs ('d') use one matrix for both sides
                F.when(g < F.lit(h), F.lit("a"))
                .when(g > F.lit(h), F.lit("b"))
                .otherwise(F.lit("d"))
                .alias("side"),
            )
            for h in range(n_blocks)
        ]
    )
    replicated = emb.select(
        F.col(id_col), F.col(vec_col), F.explode(pairs).alias("_p")
    ).select(
        id_col, vec_col, F.col("_p.bi").alias("_bi"),
        F.col("_p.bj").alias("_bj"), F.col("_p.side").alias("_side"),
    )

    empty = pd.DataFrame({"vec_id_a": [], "vec_id_b": []}, dtype="int64")

    def gemm(pdf: "pd.DataFrame") -> "pd.DataFrame":
        def mat(rows):
            ids = rows[id_col].to_numpy()
            m = np.stack(rows[vec_col].to_numpy()).astype(np.float64)
            m /= np.sqrt((m * m).sum(axis=1))[:, None]
            return ids, m

        if not len(pdf):
            return empty
        if pdf["_side"].iat[0] == "d":
            # one block vs itself: each unordered pair shows up twice in the
            # Gram matrix (plus the diagonal) — keep the a<b orientation only
            ids, m = mat(pdf)
            ii, jj = np.nonzero(m @ m.T >= cutoff)
            ida, idb = ids[ii], ids[jj]
            keep = ida < idb
            lo, hi = ida[keep], idb[keep]
        else:
            # disjoint blocks: each pair appears exactly once — canonicalize
            # the orientation (block order != id order)
            side_a, side_b = pdf[pdf["_side"] == "a"], pdf[pdf["_side"] == "b"]
            if not len(side_a) or not len(side_b):
                return empty
            ia, ma = mat(side_a)
            ib, mb = mat(side_b)
            ii, jj = np.nonzero(ma @ mb.T >= cutoff)
            ida, idb = ia[ii], ib[jj]
            lo = np.minimum(ida, idb)
            hi = np.maximum(ida, idb)
        return pd.DataFrame({"vec_id_a": lo, "vec_id_b": hi})

    return replicated.groupBy("_bi", "_bj").applyInPandas(
        gemm, "vec_id_a long, vec_id_b long"
    )


def embedding_cosine_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_blocks: int = 8,
    localize_max: int = 1_000_000,
) -> DataFrame:
    """Near-duplicate pairs by exact cosine ≥ threshold.

    Two stages, both exact in the result:

    1. **Candidate generation — distributed block-pair GEMM**
       (``embedding_cosine_candidates``): fully partition-parallel, no
       driver collect of the vector table, no full-matrix task closures;
       each task multiplies two bounded blocks with BLAS and emits pairs at
       GEMM-cosine ≥ threshold − 1e-9 (a guaranteed superset — the margin
       covers BLAS-vs-fold summation order).
    2. **Exact re-score.** The candidate set (tiny by construction — the
       threshold sits above the corpus's background similarity) is joined
       back to the vectors and re-scored with the pinned-order multiply-add
       chain, then filtered at the exact threshold — bit-identical to a
       full O(n²) evaluation, at O(candidates) chain cost.

    Scale posture: n² flops are inherent to *exact* all-pairs cosine, but
    they spread over ``n_blocks(n_blocks+1)/2`` tasks with bounded memory
    (2n/n_blocks vectors per task) — raise ``n_blocks`` with the corpus.
    When approximate recall is acceptable, put the IVF route
    (operators/similarity.py) in front; this exact form is the correctness
    anchor the approximate path is measured against.
    Returns (vec_id_a, vec_id_b, cosine).

    Candidate volume is corpus-dependent (a boilerplate-heavy corpus near
    the threshold can emit a large fraction of n²), so localization is
    GUARDED by a count: at most ``localize_max`` pairs are pulled to a
    LocalRelation (cheap broadcast, no Python-stage re-run per join
    branch); above the bound — or with ``localize_max=0`` — candidates
    stay distributed and the re-score shuffle-joins them exactly like the
    ANN path. Either branch computes over the same persisted candidate
    frame, so the GEMM stage runs once.
    """
    spark = emb.sparkSession
    base = emb.select(id_col, vec_col)

    cand_schema = "vec_id_a long, vec_id_b long"
    cand = managed_persist(
        embedding_cosine_candidates(base, threshold, id_col, vec_col, n_blocks)
    )
    if cand.count() <= localize_max:
        # small by count (not by hope): LocalRelation broadcast
        cand = spark.createDataFrame(cand.toPandas(), cand_schema)
        return _exact_cosine_rescore(emb, cand, threshold, id_col, vec_col, dim)
    return _exact_cosine_rescore(
        emb, cand, threshold, id_col, vec_col, dim, broadcast_cand=False
    )


def _exact_cosine_rescore(
    emb: DataFrame,
    cand: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    broadcast_cand: bool = True,
) -> DataFrame:
    """Exact pinned-fold cosine over a candidate pair frame: the shared
    correctness tail of the exact (block-GEMM) and approximate (IVF-
    bucketed) dedup paths — whatever the candidate generator, every
    emitted pair is re-scored with the oracle-identical left-fold
    (Arrow fold stage since r16 — bit-identical to the expression
    chain, without its ~1s/run driver-side analysis+codegen cost;
    operators/similarity.py module banner) and filtered at the exact
    threshold."""
    from filmdatawarehouse_spark.operators.similarity import (
        fold_dot_udf,
        fold_norm_udf,
    )

    # dim defaults to the corpus embedding width; pass the actual width for
    # other collections (the fold indexes 0..dim-1)
    if dim is None:
        from filmdatawarehouse_spark.operators.similarity import EMBEDDING_DIM

        dim = EMBEDDING_DIM
    nd = emb.select(
        F.col(id_col),
        F.col(vec_col).alias("_vd"),
        fold_norm_udf(dim)(F.col(vec_col)).alias("_norm"),
    )
    a = nd.select(
        F.col(id_col).alias("vec_id_a"),
        F.col("_vd").alias("v_a"),
        F.col("_norm").alias("n_a"),
    )
    b = nd.select(
        F.col(id_col).alias("vec_id_b"),
        F.col("_vd").alias("v_b"),
        F.col("_norm").alias("n_b"),
    )
    lhs = F.broadcast(cand) if broadcast_cand else cand
    return (
        lhs
        .join(a, "vec_id_a")
        .join(b, "vec_id_b")
        .select(
            "vec_id_a",
            "vec_id_b",
            (
                fold_dot_udf(dim)(F.col("v_a"), F.col("v_b"))
                / (F.col("n_a") * F.col("n_b"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
    )


def embedding_cosine_pairs_ann(
    emb: DataFrame,
    threshold: float = 0.4,
    n_lists: int = 16,
    assign_top: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    bucket_cap: int | None = None,
    n_vecs: int | None = None,
) -> DataFrame:
    """APPROXIMATE near-duplicate pairs by cosine — the sub-quadratic
    embedding-dedup path for corpora where even distributed exact GEMM is
    too much compute.

    Candidates = pairs sharing any of their ``assign_top`` nearest k-means
    lists (zero-shuffle assignment, then a bucket equi-join — the same
    shape as MinHash banding, with learned lists instead of hash bands);
    survivors get the exact pinned-chain re-score, so precision is exact
    and only recall is approximate. Recall is CERTIFIED by the registered
    ``dedup_embedding_ann_recall`` query (measured 0.99/1.00 at
    sf0.001/0.01 with the default 4-of-16 lists against a 0.9 bar — note
    the test vectors are near-isotropic, the ANN worst case; clustered
    real embeddings prune far harder at the same recall).

    Scale math: candidate volume ≈ Σ_lists (assign_top·n/n_lists)² /2 vs
    n²/2 exact; compute scales with the list-size profile, not n².
    ``bucket_cap`` guards degenerate lists like the LSH cap.
    """
    import numpy as np
    import pandas as pd

    from filmdatawarehouse_spark.operators.similarity import kmeans_centroids

    spark = emb.sparkSession
    cents = kmeans_centroids(emb, n_lists, id_col=id_col, vec_col=vec_col)
    c_t = cents.T.copy()
    k_top = assign_top

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            m /= np.sqrt((m * m).sum(axis=1))[:, None]
            order = np.argsort(-(m @ c_t), axis=1, kind="stable")[:, :k_top]
            yield pd.DataFrame(
                {
                    id_col: np.repeat(ids, k_top),
                    "list_id": order.ravel().astype(np.int64),
                }
            )

    # persist: the assignment stage feeds BOTH sides of the list self-join
    # (a Python stage re-executes per branch otherwise)
    buckets = managed_persist(
        emb.select(id_col, vec_col).mapInPandas(
            assign, f"{id_col} long, list_id long"
        )
    )
    buckets = _drop_hot_buckets(
        buckets, ["list_id"], bucket_cap, max_group_rows=n_vecs
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.list_id") == F.col("b.list_id"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("vec_id_a"),
            F.col(f"b.{id_col}").alias("vec_id_b"),
        )
        .distinct()  # a pair can share several lists
    )
    # UNLIKE the exact path, candidates here are pre-rescore bucket pairs —
    # potentially a large fraction of n² on weakly-clustered data — so they
    # stay DISTRIBUTED: shuffle-joined to the vectors, never collected or
    # broadcast.
    return _exact_cosine_rescore(
        emb, cand, threshold, id_col, vec_col, dim, broadcast_cand=False
    )
