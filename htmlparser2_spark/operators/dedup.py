"""Deduplication operators for large-scale text corpora.

All operators are DataFrame compositions (JVM-side except the MinHash
permutation fold, shuffle-aware):

* :func:`exact_dedup`          — hash-groupBy exact duplicate groups
* :func:`word_shingles`        — word n-gram shingling (built-in
  ``split``/``transform``/``sequence``; no UDF)
* :func:`ngram_jaccard_pairs`  — exact Jaccard over shingle sets via
  explode + self-join (ground truth / small corpora)
* :func:`jaccard_verify_pairs` — exact Jaccard for GIVEN candidate
  pairs (the verify stage after LSH; linear in candidate count)
* :func:`minhash_signatures` / :func:`minhash_lsh_pairs` — MinHash + LSH
  banding: signature = min over shingle hashes under ``n_perm``
  universal-hash permutations; candidate pairs from band buckets
* :func:`simhash64`            — 64-bit SimHash fingerprint per doc
* :func:`embedding_dup_pairs`  — near-dup pairs by embedding cosine
* :func:`duplicate_clusters`   — connected components over dup pairs
* :func:`frequent_line_removal` — C4-style corpus-level line dedup

MinHash and SimHash signatures are **map-only**: the per-document
reduction (min over permuted shingle hashes / sign of per-bit sums)
never needs cross-row state — zero shuffles, a narrow projection over
the scan (pinned by tests/test_plans.py). At 100 TB the signature
stage streams through executors with no exchange; only the LSH band
bucket-groupBy shuffles. MinHash's permutation+min fold is one
Arrow-batched numpy kernel (see :func:`minhash_signatures`); SimHash
is a single JVM ``aggregate``/``zip_with`` expression.

Scale notes: every self-join keys on a hash (shingle hash, band hash,
bucket), so skew is bounded by real duplicate clusters; MinHash bands
turn the quadratic pair space into per-bucket groups. ``groupBy``
paths get map-side partial aggregation from Catalyst for free.
``ngram_jaccard_pairs`` deliberately keeps its cached exploded-shingle
table and size joins: a carried-size single-join variant (no cache,
in-row ``array_distinct``) measured 2x SLOWER because the interpreted
higher-order shingle pass then runs once per consumer — the cache is
one codegen'd pass reused four times, and as the verify stage it runs
on LSH candidates, not the full corpus.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "exact_dedup",
    "word_shingles",
    "ngram_jaccard_pairs",
    "jaccard_verify_pairs",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "simhash64",
    "embedding_dup_pairs",
    "duplicate_clusters",
    "frequent_line_removal",
]

# 31-bit Mersenne prime: (a*h + b) stays under 2^62, no long overflow
_MERSENNE = (1 << 31) - 1


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: (text_hash, n_copies, keep_id)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


def _shingles_of(tk: Column, n: int) -> Column:
    """Array of word n-gram shingles built from a BOUND token array
    Column — a column attribute from a prior ``select``, or a lambda
    variable (with duplicates; order = document order).

    Never pass an inline ``split()`` expression: higher-order lambdas
    are interpreted with no subexpression elimination, so an unbound
    split referenced inside the per-shingle lambda re-tokenizes the
    whole document per element — O(tokens^2) per doc (binding measured
    3.4-3.8x on the minhash signature stage, 1.22s -> 0.33s warm,
    sf0.1 bench sample, bit-identical output). The shingle is
    ``concat_ws(" ", slice(tk, i, n))`` — ONE reference to ``tk`` per
    element: a Python UDF consuming an expression whose inner lambda
    references an OUTER lambda variable 2+ times fails UDF extraction
    outright (Spark 4.1 internal error "Cannot evaluate expression:
    PythonUDF", reproduced minimally; single references and column
    attributes are safe — both verified against a pandas-UDF
    consumer)."""
    # Guard: sequence(1, 0) DESCENDS in Spark, so short docs need an
    # explicit empty array instead.
    idx = F.when(
        F.size(tk) >= n, F.sequence(F.lit(1), F.size(tk) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(tk, i, n))
    )


def _shingle_array(text_col: str, n: int) -> Column:
    """Inline shingle-array expression over a text COLUMN NAME, for
    call sites that cannot inject a ``select`` (expression-only
    composition, e.g. contamination's Bloom probes). The split is
    bound once per row as a transform lambda variable; the inner
    lambda keeps to one outer-variable reference (see
    :func:`_shingles_of` for why both properties matter)."""
    toks_expr = F.split(F.col(text_col), " ")
    return F.transform(
        F.array(toks_expr), lambda tk: _shingles_of(tk, n)
    )[0]


def _with_tokens(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """(id, __toks) projection binding the whitespace split as a real
    column so downstream shingle lambdas reference an attribute
    (CollapseProject will not re-inline the non-cheap multi-ref
    alias, so the split stays once-per-row)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.split(F.col(text_col), " ").alias("__toks"),
    )


def word_shingles(df: DataFrame, *, n: int = 3, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """(id, shingle) pairs of word n-grams, distinct per document."""
    return (
        _with_tokens(df, text_col, id_col)
        .select(
            "id",
            F.explode(_shingles_of(F.col("__toks"), n)).alias("shingle"),
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs above ``threshold``.

    explode -> self-join on the 64-bit shingle hash (an 8-byte shuffle
    key instead of the 20-40B shingle string; xxhash64 collisions are
    negligible at corpus scale) -> per-pair intersection counts ->
    Jaccard from set sizes. Returns (id_a, id_b, jaccard) with id_a <
    id_b and jaccard rounded to 4 decimals.
    """
    sh = (
        word_shingles(df, n=n, text_col=text_col, id_col=id_col)
        .select("id", F.xxhash64("shingle").alias("sh"))
        .cache()
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.withColumnsRenamed({"id": "id_a"})
    b = sh.withColumnsRenamed({"id": "id_b"})
    inter = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "n_sh": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n_sh": "n_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_verify_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    n: int = 3,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact Jaccard for GIVEN candidate pairs — the verify stage that
    follows LSH banding in a dedup pipeline.

    Each side of a (id_a, id_b) candidate joins to its document's
    in-row distinct shingle-hash set; intersection and union are then
    array ops on the joined row. Cost is linear in candidate count
    (two hash joins on id), with no explode and no self-join —
    contrast :func:`ngram_jaccard_pairs`, which scores every
    co-shingled pair in the corpus and exists as the ground-truth /
    small-corpus variant. Values match it exactly on shared pairs
    (same hash space, same rounding; pinned by test).

    Returns (id_a, id_b, jaccard) for candidates meeting ``threshold``.
    """
    # Only pair members need shingle sets: semi-filter the corpus to
    # candidate ids first (candidates ≪ corpus after LSH), so the
    # shingle pass runs over the candidate subset — not the full
    # corpus twice. AQE broadcasts the id list when it is small.
    ids_needed = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sets_ = _with_tokens(
        docs.join(ids_needed, id_col, "left_semi"), text_col, id_col
    ).select(
        "id",
        F.array_distinct(
            F.transform(
                _shingles_of(F.col("__toks"), n), lambda s: F.xxhash64(s)
            )
        ).alias("sh_set"),
    )
    a = sets_.withColumnsRenamed({"id": "id_a", "sh_set": "set_a"})
    b = sets_.withColumnsRenamed({"id": "id_b", "sh_set": "set_b"})
    n_inter = F.size(F.array_intersect("set_a", "set_b"))
    n_union = F.size(F.array_union("set_a", "set_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", F.round(n_inter / n_union, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _perm_params(n_perm: int, seed: int) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE))
        for _ in range(n_perm)
    ]


def minhash_signatures(
    df: DataFrame,
    *,
    n: int = 3,
    n_perm: int = 32,
    seed: int = 42,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signatures: (id, sig array<long> of length n_perm).

    Base shingle hash is xxhash64 (JVM); permutations are universal
    hashes ``(a*h + b) mod M31`` folded with ``min`` per document.

    **Map-only**: a narrow ``Project`` over the scan — zero shuffles
    (pinned by tests/test_plans.py). The shingle construction and base
    xxhash64 stay JVM-side; the ``n_perm`` universal-hash + min fold
    runs in ONE Arrow-batched numpy kernel (``(flat_hashes * a + b) %
    M`` per permutation over the batch's concatenated hash buffer,
    ``np.minimum.reduceat`` per document). It replaced a pure-Catalyst
    ``aggregate``/``zip_with`` fold, which allocates an ``n_perm``-long
    boxed array per shingle (warm signature stage on 5k sf0.1
    documents in 4 cached partitions, ``local[4]`` on a 4-core host, 4
    alternating reps: 0.67-0.84 s for the kernel, 0.92-1.12 s for that
    fold).

    Duplicate shingles need no ``distinct`` (min is idempotent).
    Shingle-less documents yield an all-null signature.
    """
    base = _with_tokens(df, text_col, id_col)
    hashes = F.transform(
        _shingles_of(F.col("__toks"), n),
        lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE)),
    )
    sig_udf = _minhash_fold_udf(n_perm, seed)
    return base.select("id", sig_udf(hashes).alias("sig"))


def _minhash_fold_udf(n_perm: int, seed: int):
    """Arrow-batched numpy kernel for the permutation + min fold.

    Input: one ``array<long>`` column of base shingle hashes, already
    reduced mod ``_MERSENNE`` (so every value is in ``[0, M)`` and
    ``h * a + b < 2^62`` — no int64 overflow).
    """
    from pyspark.sql.functions import pandas_udf

    params = _perm_params(n_perm, seed)
    a_vec = np.array([p[0] for p in params], dtype=np.int64)
    b_vec = np.array([p[1] for p in params], dtype=np.int64)
    null_sig = [None] * n_perm

    @pandas_udf("array<long>")
    def sig_of(hashes: pd.Series) -> pd.Series:
        rows = [np.asarray(h, dtype=np.int64) for h in hashes]
        lens = np.fromiter((len(r) for r in rows), dtype=np.int64,
                           count=len(rows))
        nonempty = np.flatnonzero(lens)
        out = [null_sig] * len(rows)
        if len(nonempty):
            flat = np.concatenate([rows[i] for i in nonempty])
            starts = np.zeros(len(nonempty), dtype=np.int64)
            np.cumsum(lens[nonempty][:-1], out=starts[1:])
            mins = np.empty((len(nonempty), n_perm), dtype=np.int64)
            for p in range(n_perm):
                permuted = (flat * a_vec[p] + b_vec[p]) % _MERSENNE
                mins[:, p] = np.minimum.reduceat(permuted, starts)
            for j, i in enumerate(nonempty):
                out[i] = mins[j].tolist()
        return pd.Series(out)

    return sig_of


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    n: int = 3,
    n_perm: int = 32,
    bands: int = 8,
    seed: int = 42,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """LSH candidate pairs: docs sharing at least one identical band.

    Signature is split into ``bands`` bands of ``n_perm // bands`` rows;
    banding keys are hashed and grouped, so candidate generation is
    linear in bucket sizes, never quadratic in corpus size.

    Shape: explode bands -> ``groupBy (band, bh)`` collecting the
    sorted id list per bucket -> expand each bucket's pairs **in-row**
    with array higher-order functions -> ``distinct``. One scan and two
    shuffles total. The earlier self-join shape computed the entire
    (map-only, but still) signature stage twice — once per join side,
    no ReusedExchange because of the pre-join renames — and shuffled
    ``banded`` twice; at 100 TB that is a full extra pass over the
    corpus. Bucket skew note: a bucket of k ids materializes a k-array
    and k(k-1)/2 pairs — identical pair volume to the join shape. Run
    :func:`exact_dedup` first so identical documents (the only source
    of unboundedly large buckets) never reach LSH.
    """
    if bands < 1 or n_perm % bands != 0:
        # A non-divisible combination would silently discard the
        # trailing signature rows (recall loss the caller never asked
        # for); bands > n_perm would build empty band keys.
        raise ValueError(
            f"n_perm ({n_perm}) must be a positive multiple of bands ({bands})"
        )
    rows_per_band = n_perm // bands
    sig = minhash_signatures(
        df, n=n, n_perm=n_perm, seed=seed, text_col=text_col, id_col=id_col
    )
    # Shingle-less documents have all-null signatures; without this
    # filter they'd share identical (hash-of-nulls) bands and form one
    # giant spurious candidate clique.
    sig = sig.filter(F.col("sig")[0].isNotNull())
    band_cols = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)]
                ).alias("bh"),
            )
            for b in range(bands)
        ]
    )
    banded = sig.select("id", F.explode(band_cols).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )
    buckets = (
        banded.groupBy("band", "bh")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    # All (ids[i], ids[j]) with i < j; the sort makes id_a < id_b by
    # construction. Two-level explode: the first explode emits one row
    # per left index, the second explodes that row's suffix slice — so
    # no single row ever materializes a bucket's full k(k-1)/2 pair
    # array (a one-level flatten would OOM on a pathological bucket;
    # here the largest row holds one bucket's id list). slice()
    # tolerates length past the array end.
    return (
        buckets.select(
            "ids",
            F.explode(F.sequence(F.lit(1), F.size("ids") - 1)).alias("i"),
        )
        .select(
            F.element_at("ids", F.col("i")).alias("id_a"),
            F.explode(
                F.slice(F.col("ids"), F.col("i") + 1, F.size("ids"))
            ).alias("id_b"),
        )
        .distinct()
    )


def simhash64(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash per document: sign of the per-bit sum of token
    hash bits (+1/-1 per token occurrence — multiset, not set).

    **Map-only**: the 64 per-bit sums are a per-row reduction, so the
    whole fingerprint is one ``aggregate`` over the in-row token array
    with a 64-slot ``zip_with`` accumulator — zero shuffles, a pure
    ``Project`` over the scan. Bit tests use a literal mask array
    (``1<<b``; two's-complement min-long for b=63) so ``xxhash64``
    runs once per token. Documents with NULL text are dropped (the
    pre-rewrite explode path had no rows for them). Returns
    (id, simhash long)."""
    toks = F.split(F.col(text_col), " ")
    masks = F.array(
        *[
            F.lit(1 << b if b < 63 else -(1 << 63)).cast("long")
            for b in range(64)
        ]
    )
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    bit_sums = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    sim = F.aggregate(
        F.zip_with(
            bit_sums,
            masks,
            lambda s, m: F.when(s > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )
    return df.filter(toks.isNotNull()).select(
        F.col(id_col).alias("id"), sim.alias("simhash")
    )


def embedding_dup_pairs(
    df: DataFrame,
    *,
    threshold: float = 0.95,
    dim: int = 64,
    n_bits: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine >= threshold, bucketed by
    random-hyperplane LSH so the pair space stays sub-quadratic."""
    from .similarity import _cosine, hyperplane_lsh_buckets

    b = hyperplane_lsh_buckets(
        df, dim=dim, n_bits=n_bits, seed=seed, id_col=id_col, vec_col=vec_col
    )
    left = b.withColumnsRenamed({id_col: "id_a", vec_col: "va"})
    right = b.withColumnsRenamed({id_col: "id_b", vec_col: "vb"})
    return (
        left.join(right, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "sim",
            _cosine(
                F.transform(F.col("va"), lambda x: x.cast("double")),
                F.transform(F.col("vb"), lambda x: x.cast("double")),
            ),
        )
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", F.round("sim", 4).alias("sim"))
    )


def frequent_line_removal(
    df: DataFrame,
    *,
    min_docs: int = 2,
    unit: str = "line",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style corpus-level line dedup: rebuild each document's text
    without lines that occur in at least ``min_docs`` distinct
    documents (boilerplate footers, cookie banners, nav text).
    ``unit="paragraph"`` switches to Dolma-style paragraph
    granularity: units are blank-line-separated (LF or CRLF) blocks,
    reassembled with a canonical single blank line — coarser units
    only remove whole repeated paragraphs, never a shared line inside
    an otherwise-unique paragraph.

    The frequency threshold makes removal deterministic and
    order-independent — unlike keep-first-occurrence, which depends on
    scan order. Plan: posexplode units -> distinct-doc counts per unit
    hash (map-side combined; one shuffle) -> anti-join the frequent
    set -> per-doc ordered reassembly (one groupBy). Units join on
    their xxhash64 (8-byte key; same collision stance as the shingle
    operators). Structure units are never counted frequent: paragraph
    mode guards the full whitespace class, line mode guards
    SPACE-trimmed-empty lines only (Spark trim strips only spaces, so
    a tab-only line CAN be removed if corpus-frequent — historical
    behavior, pinned by the q_line_dedup oracle). Documents whose
    every unit was frequent come back as ''. Returns
    (id, clean_text). ``min_docs < 2`` is rejected: df >= 1 always,
    so such a threshold silently blanks the entire corpus.
    """
    if min_docs < 2:
        raise ValueError(
            f"min_docs must be >= 2 (got {min_docs}): every unit is in "
            "at least 1 document, so a lower threshold blanks the corpus"
        )
    if unit == "line":
        sep_re, join_sep = "\n", "\n"
        non_blank = F.trim(F.col("line")) != ""
    elif unit == "paragraph":
        sep_re, join_sep = "(?:\\r?\\n){2,}", "\n\n"
        non_blank = F.col("line").rlike("[^ \\t\\n\\r\\f\\x0B]")
    else:
        raise ValueError(f"unknown unit: {unit!r}")
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), sep_re)).alias("pos", "line"),
    ).withColumn("lh", F.xxhash64("line"))
    # Blank/whitespace-only units are paragraph structure, not
    # boilerplate: two documents that each contain a paragraph break
    # must not make "" corpus-frequent and strip every break. They are
    # excluded from the frequent set (and therefore always kept).
    frequent = (
        lines.filter(non_blank)
        .groupBy("lh")
        .agg(F.count_distinct("id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("lh")
    )
    kept = lines.join(frequent, "lh", "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.concat_ws(
            join_sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("clean_text")
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(rebuilt, "id", "left")
        .select("id", F.coalesce("clean_text", F.lit("")).alias("clean_text"))
    )


def duplicate_clusters(
    pairs: DataFrame,
    *,
    max_iter: int = 20,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Connected components over near-dup pairs: (id, cluster_id).

    The canonical step after pair generation in a dedup pipeline
    (keep one representative per component). Implemented as iterative
    min-label propagation in pure DataFrame ops — the standard
    large-scale connected-components shape (each round: one join on the
    symmetrized edge list + one min-aggregate, both map-side combined;
    no driver-side graph). Converges in O(component diameter) rounds;
    near-dup clusters are dense/shallow, so a handful of rounds
    suffices and ``max_iter`` is a diameter cap, checked with one
    cheap count per round (early exit on fixpoint). cluster_id is the
    minimum member id — deterministic across partitionings.

    Only ids that appear in ``pairs`` are returned; singletons carry no
    dedup decision and would bloat the output at corpus scale.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
    )
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "cluster_id", F.col("id")
    )
    labels = labels.localCheckpoint(eager=True)
    # max_iter bounds the label-update rounds; one extra round is
    # allowed so a diameter-max_iter component can still verify its
    # fixpoint (the convergence check needs a round that changes
    # nothing) instead of raising spuriously at the boundary.
    for _ in range(max_iter + 1):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nb_min"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce("nb_min", F.col("cluster_id"))
                ).alias("cluster_id"),
            )
        )
        # Truncate lineage each round: iterative self-joins otherwise
        # stack plans exponentially (the classic iterative-algorithm
        # pitfall on Spark).
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # Exhausting max_iter without a fixpoint means some component's
        # diameter exceeds the cap: silently returning would split one
        # real duplicate cluster into several cluster_ids and dedup
        # would keep extra copies — fail loudly instead.
        raise RuntimeError(
            f"duplicate_clusters did not converge within max_iter={max_iter} "
            "rounds; a component has larger diameter — raise max_iter"
        )
    return labels
