"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

Scale design (the point of each shape):
- exact: one hash-shuffle on a 128-bit digest — the minimum possible.
- shingle join (Jaccard / MinHash): NEVER cross-join documents; explode
  to (shingle, doc) pairs and self-join on the shingle/signature so the
  shuffle key is content, candidate pairs ~ actual near-dups, not n².
- every hash is the md5-derived h48/h16 so the DuckDB oracle reproduces
  results bit-for-bit (see functions/hashing.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_binlog_spark.functions.hashing import h16, h48

N_MINHASH = 8  # seeds 0..7; each seed is a 1-row LSH band


def shingles_of_words(w: Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string> (deduplicated), over a
    MATERIALIZED words-array column.

    ``w`` must be a real column (aliased in its own projection), never
    an inline ``F.split(text)``: Catalyst does not common-subexpression
    -eliminate inside higher-order-function lambdas, so an inline split
    captured by the transform lambda is re-evaluated once PER ELEMENT —
    O(words²) string work per document.  The sf10 rung measured the
    difference at 350 s vs 31 s for one shingle-count shuffle over 500k
    docs (PERF.md r12); the two-projection form is safe because
    CollapseProject refuses to inline a non-cheap alias used more than
    once."""
    # guard: F.sequence(1, 0) would produce a DESCENDING [1, 0] — emit an
    # empty shingle set for docs shorter than n words instead.
    idx = F.when(
        F.size(w) >= n, F.sequence(F.lit(1), F.size(w) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(w, i + j) for j in range(n)]
        ),
    )
    return F.array_distinct(grams)


# NOTE: there is deliberately NO expression-position convenience form
# taking a raw text column (``shingles(text)``): an inline split
# captured by the transform lambda re-evaluates once PER ELEMENT
# (O(words²) per doc — the r12 sf10 lesson above), and a convenience
# wrapper is exactly how that hazard re-enters a scale path (ADVICE
# r12).  Materialize the words array in its own projection and call
# ``shingles_of_words``.


def spread_small_input(df: DataFrame) -> DataFrame:
    """Small-file mitigation for hash-heavy per-row stages: parallelism
    is bounded by input splits, not cores (PERF.md text ladder — a
    one-file table runs the whole shingle→md5 pipeline in ONE task).
    If the scan has materially fewer partitions than the session's
    default parallelism, redistribute once BEFORE the per-shingle
    hashing; no-op on well-split inputs, so a real many-split table
    never pays the extra shuffle.  Measured: minhash signatures on a
    single-file 5k-doc table 3.7 s → 1.6 s on local[32].

    The under-split probe is ``inputFiles()`` (plan metadata, no job)
    rather than ``df.rdd.getNumPartitions()`` — touching ``.rdd``
    forces full plan analysis plus a DataFrame→RDD conversion barrier
    (VERDICT r11 What's-wrong #3).  File count under-estimates splits
    for one LARGE splittable file, so the worst case is one extra
    repartition of a table small enough to ship as a handful of files
    — exactly the population this mitigation targets; a real many-file
    100 TB table never pays it.

    Non-file relations (streaming micro-batches, localCheckpointed
    batches, createDataFrame fixtures) report ZERO files, and for them
    the probe falls back to the RDD partition count — a DELIBERATE
    ``.rdd`` touch: the relation is already analyzed/materialized so
    the barrier is one metadata lookup, and the r12 sink ladder
    measured the cost of passing through unprobed instead (sink
    admission batches arrive checkpointed with scan-inherited
    partitioning; at the sf1 rung the minhash sink read 14+ s/batch
    in 1-2 tasks vs ~4 s properly spread)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    n_files = len(df.inputFiles())
    # n_files == 0 is ambiguous: a non-file relation (streaming batch,
    # fixture) — or a ZERO-file file relation, which also falls through
    # to the .rdd probe and a repartition of nothing (ADVICE r12).
    # Accepted: a Spark-written parquet table always carries >= 1 part
    # file even when empty (inputFiles() > 0 takes the fast path), so
    # the only population paying the forced-planning .rdd touch is an
    # empty bare directory read — a fixture shape, never a scale path.
    n_parts = n_files if n_files > 0 else df.rdd.getNumPartitions()
    if n_parts < max(2, target // 2):
        return df.repartition(target)
    return df


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: group by content digest, keep the smallest doc_id."""
    return (
        df.select(F.col("doc_id"), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


def doc_shingles(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, shingle) exploded pairs — the base relation for
    Jaccard and MinHash. Column-pruned scan: only doc_id + text read;
    the words array is materialized in its own projection (see
    ``shingles_of_words`` — an inline split would re-split per shingle)."""
    return df.select(
        F.col("doc_id"), F.split(F.col(text_col), " ").alias("__w")
    ).select(
        F.col("doc_id"),
        F.explode(shingles_of_words(F.col("__w"), n)).alias("shingle"),
    )


# Linear-permutation minhash family over a Mersenne-prime field:
#   h_i(s) = (A[i] * (h48(s) % P) + B[i]) % P,  P = 2^31 - 1
# ONE md5 per shingle (vs one per shingle×seed), then integer-only
# arithmetic that both Spark and DuckDB evaluate bit-identically.
# A[i]*h' < 2^13 * 2^31 stays far inside signed-64.
MINHASH_P = (1 << 31) - 1
MINHASH_A = [1223, 2741, 3571, 4391, 5279, 6101, 7001, 7919]
MINHASH_B = [7, 101, 211, 307, 401, 503, 601, 701]


def minhash_signatures_wide(
    df: DataFrame, text_col: str = "text", n_hashes: int = N_MINHASH
) -> DataFrame:
    """(doc_id, mh0..mh{n-1}) — the one-row-per-doc wide signature.

    Plan shape: scan -> generate(shingles) -> ONE hash-aggregate keyed
    on doc_id computing all n_hashes mins as separate agg columns
    (map-side partial min).  No seed explosion: the shuffle carries one
    row per doc, n_hashes columns wide.

    Stays JVM codegen, twice A/B'd against a Python kernel and kept:
    the r13 A/B measured a row-at-a-time kernel at near-parity, and
    the r15 re-run (VERDICT r14 ask #6) with the full simhash-kernel
    treatment — per-task md5 memoization, byte-slice shingles (no
    string concat), vectorized min.reduceat over doc boundaries —
    STILL measured parity at the sf10 signature pass (kernel 3.1-4.2 s
    vs Catalyst 2.8-3.7 s, min-of-4 interleaved, value-identical).
    Unlike simhash (whose Catalyst form paid 60 branchy sum(CASE)
    aggregates per word instance), this pass is md5 + one multiply-mod
    chain in a codegen hash-agg — there is no interpreted-expression
    tax for a kernel to win back, and the Arrow text transfer eats the
    memoization saving."""
    sh = doc_shingles(spread_small_input(df), text_col)
    # SQL text, not Column calls: see DEVNOTES "Spark pitfalls" (every
    # functions call is ~5 py4j round trips under call-site capture)
    hashed = sh.selectExpr(
        "doc_id",
        f"CAST(conv(substring(md5(shingle), 1, 12), 16, 10) AS BIGINT) % {MINHASH_P} AS hp",
    )
    aggs = [
        F.expr(f"min((hp * {MINHASH_A[i]} + {MINHASH_B[i]}) % {MINHASH_P}) AS mh{i}")
        for i in range(n_hashes)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def minhash_signatures(df: DataFrame, text_col: str = "text", n_hashes: int = N_MINHASH) -> DataFrame:
    """(doc_id, seed, minhash) — the unpivoted form of
    ``minhash_signatures_wide`` (one row per doc×seed)."""
    wide = minhash_signatures_wide(df, text_col, n_hashes)
    stack = ", ".join(f"{i}, mh{i}" for i in range(n_hashes))
    return wide.select(
        "doc_id",
        F.expr(f"stack({n_hashes}, {stack}) AS (seed, minhash)"),
    ).select("doc_id", F.col("seed").cast("int").alias("seed"), "minhash")


def minhash_candidate_pairs(
    df: DataFrame, text_col: str = "text", min_agree: int = 4, n_hashes: int = N_MINHASH
) -> DataFrame:
    """LSH candidate pairs: docs agreeing on >= min_agree of n_hashes
    seeds.  est_jaccard4 = floor(10000 * agree / n_hashes).

    Banding is r=2 (all C(n_hashes, 2) seed-PAIR combinations), not the
    r=1 single-seed join (r12 fix): with one seed per band, bucket
    population is driven by the MARGINAL distribution of each minhash —
    and min-statistics concentrate hard when the shingle space is small
    relative to docs-per-shingle-draw (the sf10 rung measured 8,763
    distinct seed-0 values over 500k docs = 97.7M bucket pairs per
    seed, ~780M candidate rows, a 70 GB shuffle spill that exhausted
    the disk).  A pair agreeing on >= 2 seeds shares at least one full
    seed-pair combination (pigeonhole over C(k,2) >= 1 for k >= 2), so
    the combination join finds EXACTLY the same pairs for any
    min_agree >= 2 while bucket keys live in the (value x value) space
    — candidates scale with true near-dup pairs (amplified at most
    C(k,2) <= C(n,2) for a k-seed match), never with marginal value
    concentration.  The full signature vector rides the banded rows,
    so n_agree is computed INSIDE the join stage (the r11
    verify-before-dedup lesson).

    r13: the pair-dedup EXCHANGE is gone.  A pair agreeing on k seeds
    matches C(k,2) combinations, so the join emits it C(k,2) times; the
    old plan deduped those through a dropDuplicates shuffle of the full
    (output x C(k,2)) relation — the dominant cost once output is tens
    of millions of pairs (sf10: 28.4M pairs, 16.5 s, most of it the
    dedup exchange).  Because both FULL signatures ride every banded
    row, each row can decide locally whether ITS combination is the
    pair's canonical one — the lexicographically first agreeing seed
    pair: build the agreement bitmask, and keep the row only when the
    mask's two lowest set bits are exactly this combo's (i, j), i.e.
    ``mask & ((1 << j) - 1) == (1 << i)``.  Every surviving pair is
    emitted exactly once, row-locally, no exchange; output and values
    are identical to the dropDuplicates plan (property-tested against
    a brute-force signature model).
    """
    # argument contract, not an internal invariant: under ``python -O``
    # an assert strips and min_agree=1 would silently return an
    # INCOMPLETE pair set (1-seed agreements never share a combination)
    if not 2 <= min_agree <= n_hashes:
        raise ValueError(
            f"combination banding needs 2 <= min_agree <= n_hashes "
            f"(got min_agree={min_agree}, n_hashes={n_hashes}); pairs "
            "agreeing on exactly one seed never share a seed-pair band"
        )
    from pyspark.storagelevel import StorageLevel

    wide = minhash_signatures_wide(df, text_col, n_hashes).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return minhash_pairs_from_wide(wide, n_hashes=n_hashes, min_agree=min_agree)


def combo_structs(cols: list[str]) -> str:
    """SQL text of one ``struct(cid, u, v)`` per seed-pair combination
    ``(i, j)``, ``i < j``, of the wide signature columns ``cols``: the
    banded rows that both the batch pair join and the streaming
    admission join explode."""
    n = len(cols)
    combos = [(i, j) for i in range(n) for j in range(i + 1, n)]
    return ", ".join(
        f"struct({k} AS cid, {cols[i]} AS u, {cols[j]} AS v)"
        for k, (i, j) in enumerate(combos)
    )


def minhash_pairs_from_wide(
    wide: DataFrame, n_hashes: int = N_MINHASH, min_agree: int = 4
) -> DataFrame:
    """The r=2 combination-banded pair join over a PRECOMPUTED wide
    signature relation (doc_id, mh0..mh{n-1}) — the shared core of
    ``minhash_candidate_pairs`` and the streaming admission sink's
    in-batch reject (which already holds the wide relation and must not
    recompute signatures).  See ``minhash_candidate_pairs`` for the
    banding and canonical-emission arguments."""
    if not 2 <= min_agree <= n_hashes:
        raise ValueError(
            f"combination banding needs 2 <= min_agree <= n_hashes "
            f"(got min_agree={min_agree}, n_hashes={n_hashes})"
        )
    cols = [f"mh{i}" for i in range(n_hashes)]
    combos = [(i, j) for i in range(n_hashes) for j in range(i + 1, n_hashes)]
    banded = wide.selectExpr(
        "doc_id", *cols, f"explode(array({combo_structs(cols)})) AS b"
    ).selectExpr("doc_id", *cols, "b.cid AS cid", "b.u AS u", "b.v AS v")
    a, b = banded.alias("a"), banded.alias("b")
    # per-seed agreement bitmask: bit c set <=> the pair agrees on seed c
    mask = " + ".join(
        f"CAST(a.{c} = b.{c} AS BIGINT) * {1 << k}" for k, c in enumerate(cols)
    )
    # canonical-combo constants, indexed by cid (1-based for element_at):
    # the row whose combo (i, j) equals the mask's two lowest set bits
    # is the pair's single emitter
    ival = ", ".join(f"CAST({1 << i} AS BIGINT)" for i, _j in combos)
    jmask = ", ".join(f"CAST({(1 << j) - 1} AS BIGINT)" for _i, j in combos)
    joined = a.join(
        b,
        F.expr("a.cid = b.cid AND a.u = b.u AND a.v = b.v AND a.doc_id < b.doc_id"),
    ).selectExpr("a.doc_id AS doc_a", "b.doc_id AS doc_b", "a.cid AS cid", f"{mask} AS mask")
    return (
        joined.where(
            f"mask & element_at(array({jmask}), cid + 1)"
            f" = element_at(array({ival}), cid + 1)"
        )
        .selectExpr("doc_a", "doc_b", "CAST(bit_count(mask) AS BIGINT) AS n_agree")
        .where(f"n_agree >= {min_agree}")
        .selectExpr(
            "doc_a",
            "doc_b",
            "n_agree",
            f"CAST(floor(CAST(n_agree AS DOUBLE) / {float(n_hashes)}D * 10000) AS BIGINT)"
            " AS est_jaccard4",
        )
    )


def minhash_component_edges(
    df: DataFrame, text_col: str = "text", n_hashes: int = N_MINHASH
) -> DataFrame:
    """(doc_a, doc_b) edges whose connected components are EXACTLY the
    components of ``minhash_candidate_pairs(min_agree=2)`` — at a
    fraction of the edges (r14, guide §2.3: don't shuffle what the
    consumer doesn't need).

    Structure argument: with r=2 combination banding, a (combo, u, v)
    bucket's members all share that seed pair, so any two of them
    agree on >= 2 seeds — every bucket is a CLIQUE of the min_agree=2
    candidate graph; and every qualifying pair shares some bucket
    (pigeonhole).  The candidate graph is therefore a union of bucket
    cliques, and per-bucket STAR edges (bucket-min, member) span each
    clique — identical connected components with Σ(|bucket|−1) edges
    instead of Σ C(|bucket|,2) pairs (sf10: 28.4M pairs → ~1.3M star
    edges; a k-doc dup clique costs k−1 edges instead of C(k,2)).
    Only valid for min_agree=2 — at higher thresholds bucket members
    are candidates, not qualified pairs, so cliques don't hold.  The
    PAIR relation (``minhash_candidate_pairs``) stays the declared
    pair-listing query; this is the edge constructor for component
    consumers (q_dup_components, q_dedup_canonical), whose declared
    outputs are component-level and provably unchanged
    (TestMinhashComponentEdges pins component equality)."""
    from pyspark.sql import Window

    cols = [f"mh{i}" for i in range(n_hashes)]
    combos = [(i, j) for i in range(n_hashes) for j in range(i + 1, n_hashes)]
    wide = minhash_signatures_wide(df, text_col, n_hashes)
    banded = wide.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("cid"),
                        F.col(cols[i]).alias("u"),
                        F.col(cols[j]).alias("v"),
                    )
                    for k, (i, j) in enumerate(combos)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.cid", "b.u", "b.v")
    w = Window.partitionBy("cid", "u", "v")
    return (
        banded.withColumn("m", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("m"))
        .select(F.col("m").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        .dropDuplicates()
    )


def minhash_dedup_summary(
    df: DataFrame,
    text_col: str = "text",
    min_agree: int = 4,
    n_hashes: int = N_MINHASH,
) -> DataFrame:
    """Bounded canonical-survivor MinHash near-dedup (r14, VERDICT r13
    ask #2 — the minhash analogue of ``hamming_dedup_summary``): one
    row per document — (doc_id, canon_id, n_near) over the one-hop
    neighborhood of documents agreeing on >= ``min_agree`` of
    ``n_hashes`` seeds (itself included).

    Why this is the GRADED shape while ``minhash_candidate_pairs``
    stays an edge constructor: the pair LISTING over a dup-heavy corpus
    is output-quadratic by definition (an exact-dup clique of k docs is
    C(k,2) pairs — the r13 ladder measured rows-alpha ~1.96: 3,249
    pairs at sf0.1 -> 28.4M at sf10), so at 100x the output itself is
    the scale-killer no plan can fix.  The summary is O(n) output at
    any corpus size, and it is what a dedup pipeline consumes (keep
    doc_id == canon_id, or weight by n_near).

    Plan: signatures once (one doc-keyed agg), then everything pairwise
    happens at the DISTINCT-SIGNATURE level — exact-dup cliques
    collapse to one representative row (sid = the clique's min doc_id)
    BEFORE the banded self-join, so candidate volume tracks distinct
    near-dup structure, never clique sizes.  The r=2 combination-banded
    join (``minhash_pairs_from_wide``) finds every qualifying
    signature pair; one symmetrize + diagonal union, one keyed
    neighbor aggregation, and one map-back join produce the per-doc
    rows.  canon_id = min doc_id over the neighborhood because each
    representative IS its clique's min and min composes."""
    from pyspark.storagelevel import StorageLevel

    from spark_binlog_spark.cache_util import release, swap_caches

    cols = [f"mh{i}" for i in range(n_hashes)]
    release("dedup.minhash_dedup_summary")
    wide = minhash_signatures_wide(df, text_col, n_hashes).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    per = (
        wide.groupBy(*cols)
        .agg(F.min("doc_id").alias("m"), F.count("*").cast("long").alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dsig = per.select(F.col("m").alias("doc_id"), *cols)
    # persisted: referenced twice by the symmetrize union — unpersisted
    # the whole banded candidate join ran twice per action (the same
    # defect hamming_dedup_summary carried; bounded by TRUE pairs)
    pairs = minhash_pairs_from_wide(
        dsig, n_hashes=n_hashes, min_agree=min_agree
    ).persist(StorageLevel.MEMORY_AND_DISK)
    swap_caches("dedup.minhash_dedup_summary", [wide, per, pairs])
    sym = (
        pairs.select(F.col("doc_a").alias("sid"), F.col("doc_b").alias("nb"))
        .unionByName(pairs.select(F.col("doc_b").alias("sid"), F.col("doc_a").alias("nb")))
        .unionByName(per.select(F.col("m").alias("sid"), F.col("m").alias("nb")))
    )
    nbstats = (
        sym.join(per.select(F.col("m").alias("nb"), F.col("c")), "nb")
        .groupBy("sid")
        .agg(F.min("nb").alias("canon_id"), F.sum("c").cast("long").alias("n_near"))
    )
    return (
        wide.join(per.select(*cols, F.col("m").alias("sid")), cols)
        .join(nbstats, "sid")
        .select("doc_id", "canon_id", "n_near")
    )


def boilerplate_shingles(
    df: DataFrame, min_df: int = 2, text_col: str = "text"
) -> DataFrame:
    """Corpus boilerplate detection: shingles shared by >= min_df docs.

    The CCNet-style pre-pass for line/paragraph boilerplate removal,
    expressed on word shingles (the synthetic corpus has no newlines):
    one explode + ONE shingle-keyed count shuffle; the survivors are the
    candidate boilerplate dictionary a cleaning pass would anti-join
    documents against.  Output is vocabulary-sized, not corpus-sized.
    """
    sh = doc_shingles(df, text_col)
    return (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("n_docs_with"), F.min("doc_id").alias("first_doc"))
        .filter(F.col("n_docs_with") >= min_df)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    min_jaccard4: int = 2000,
    df_cap: int | None = 64,
) -> DataFrame:
    """N-gram Jaccard on shingle-join candidates.

    jaccard = |A ∩ B| / (|A| + |B| - |A ∩ B|); pairs that share no
    shingle never materialize.  Reported as floor(j * 10000).

    ``df_cap`` (ON by default): exclude shingles whose document
    frequency exceeds the cap from the candidate join — the standard
    guard against hot shingles turning the join quadratic (a shingle in
    k docs emits k² candidate rows; one boilerplate shingle across a
    100 TB corpus is a job-killer).  Denominators stay full-size, so
    capping only LOWERS a pair's score (candidates lost only when a
    pair shares nothing but ubiquitous shingles).  The cap is enforced
    as a ``size() <= df_cap`` predicate on the per-shingle doc list —
    hot shingles drop in the same grouped pass that generates
    candidates, no separate hot-set count or join.  Pass
    ``df_cap=None`` for the exact uncapped join-based measure.
    """
    # two consumers (sizes + candidate generation): persist the exploded
    # shingle relation so shingling runs once.  Shingles carry their
    # 48-bit hash, not the string — half the shuffle bytes; the hash is
    # applied AFTER the doc-local string distinct (shingles() ends in
    # array_distinct), so no extra dropDuplicates shuffle is needed and
    # both engines see the identical multiset even under h48 collisions.
    from pyspark.storagelevel import StorageLevel

    sh = (
        doc_shingles(spread_small_input(df), text_col)
        .select("doc_id", F.conv(F.substring(F.md5(F.col("shingle")), 1, 12), 16, 10).cast("long").alias("sh_h"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    if df_cap is not None:
        # capped path: window-count docs per shingle hash, filter to
        # [2, df_cap], THEN collect_list — all inside one hash
        # partitioning on sh_h (Window and the aggregate share it, so
        # the relation shuffles once).  A boilerplate shingle present
        # in millions of docs is dropped by the count predicate before
        # any list materializes, and WindowExec's per-key row buffer
        # spills to disk (ExternalAppendOnlyUnsafeRowArray) — so no
        # aggregation buffer is ever unbounded, unlike collect_list on
        # an unfiltered hot key.  count(*) equals the collected list's
        # size() exactly (h48-collision dups included): semantics
        # unchanged.  Candidate pairs then explode array-side (≤
        # cap²/2 per shingle, JVM codegen) — no doc×doc self-join.
        from pyspark.sql import Window

        n_docs = F.count("*").over(Window.partitionBy("sh_h"))
        grouped = (
            sh.withColumn("n_docs", n_docs)
            .filter((F.col("n_docs") >= 2) & (F.col("n_docs") <= df_cap))
            .groupBy("sh_h")
            .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        )
        pairs = grouped.select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) -> "
                    "transform(slice(ds, i + 2, size(ds) - i - 1), "
                    "y -> struct(x AS doc_a, y AS doc_b))))"
                )
            ).alias("p")
        ).select("p.doc_a", "p.doc_b")
        # strict inequality guards the self-pair an in-doc h48 collision
        # would produce (duplicate doc_id in one shingle's sorted list)
        pairs = pairs.filter(F.col("doc_a") < F.col("doc_b"))
        common = pairs.groupBy("doc_a", "doc_b").agg(F.count("*").alias("n_common"))
    else:
        # exact mode: hash-join candidate generation (a ubiquitous
        # shingle makes this quadratic — that is what df_cap guards)
        common = (
            sh.alias("a")
            .join(
                sh.alias("b"),
                (F.col("a.sh_h") == F.col("b.sh_h")) & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .agg(F.count("*").alias("n_common"))
        )
    sa = sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a")
    sb = sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b")
    j4 = F.floor(
        F.col("n_common").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
        * 10000
    ).cast("long")
    # NO broadcast hints here: `sizes` is corpus-cardinality (one row
    # per document) — a forced broadcast is a driver/executor OOM at
    # web scale.  `common` and `sizes` are both doc-keyed, so the hash
    # join co-partitions naturally; AQE upgrades to broadcast at
    # runtime when the measured size actually fits (local/test scale),
    # which is the only safe place for that decision.
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", "n_common", j4.alias("jaccard4"))
        .filter(F.col("jaccard4") >= min_jaccard4)
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    max_hamming: int = 2,
    bits: int = 16,
    bands: int = 4,
    blocks: int | None = None,
    r: int | None = None,
) -> DataFrame:
    """SimHash near-duplicate pairs: hamming(sig_a, sig_b) <= max_hamming.

    The classic hamming-LSH argument (Charikar-style dedup): split the
    ``bits``-bit signature into ``bands`` equal bands — any pair within
    hamming distance < ``bands`` agrees EXACTLY on at least one band
    (pigeonhole), so a band-keyed join finds every such pair without an
    n² compare; popcount(xor) then verifies the true distance.

    Delegates to hamming_near_dup_pairs; the join strategy follows the
    signature family's entropy (see that docstring).  Narrow
    signatures (<= 16 bits, the graded legacy form) use the
    distinct-value plan — there are at most 65,536 distinct signatures
    at ANY corpus size, so the banded join is constant-cost forever
    and the only n-proportional work is the signature aggregation and
    the (true-output-sized) expansion.  Wide signatures are md5-prefix
    derived (uniform by construction, distinct ~ n) and use the direct
    id-level join, where band buckets stay at n/2^width + true-dup
    cluster sizes.
    """
    from pyspark.storagelevel import StorageLevel

    if bits % bands != 0:
        raise ValueError(f"bands ({bands}) must divide bits ({bits})")
    sig = simhash(df, text_col, bits).persist(StorageLevel.MEMORY_AND_DISK)
    return hamming_near_dup_pairs(
        sig,
        id_col="doc_id",
        sig_col="simhash16",
        bits=bits,
        bands=bands,
        max_hamming=max_hamming,
        strategy="distinct" if bits <= 16 else "direct",
        blocks=blocks,
        r=r,
    ).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "hamming"
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 5,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word
    n-gram with an evaluation corpus — the GPT-3/Pile-style leakage
    sweep run before training (production uses 8–13-grams; ``n`` is a
    parameter).

    Scale shape: the benchmark reduces to a DISTINCT 48-bit gram-hash
    set — eval suites are tiny next to a training corpus — which is
    BROADCAST, so the 100 TB side is ONE scan with a map-side semi
    join: no shuffle of training data at all.  The per-doc gram count
    comes from a second scan-projection joined to the (small) hit set,
    still shuffle-free on the corpus.  ``broadcast_benchmark=False``
    falls back to a shuffled hash join for adversarially large
    benchmark sets.  h48 collisions can only over-flag (both engines
    hash identically, so the oracle agrees bit-for-bit).

    Output: one row per CONTAMINATED doc — (doc_id, n_hits = distinct
    leaked grams, n_grams, contamination4 = floor(10^4·n_hits/n_grams)).
    """
    bench = (
        doc_shingles(benchmark, text_col, n)
        .select(h48(F.col("shingle")).alias("sh_h"))
        .distinct()
    )
    if broadcast_benchmark:
        bench = F.broadcast(bench)
    sh = doc_shingles(spread_small_input(docs), text_col, n).select(
        "doc_id", h48(F.col("shingle")).alias("sh_h")
    )
    hits = sh.join(bench, "sh_h").groupBy("doc_id").agg(F.count("*").alias("n_hits"))
    # sizes rebuilds every doc's gram array — as hash-heavy as the probe
    # branch, so it needs the same small-input spread (unspread, a
    # one-file local table ran this projection in ONE task: 4.5 of the
    # 5.9 s total at sf0.1; a no-op on well-split input)
    sizes = spread_small_input(docs).select(
        F.col("doc_id"), F.split(F.col(text_col), " ").alias("__w")
    ).select(
        F.col("doc_id"),
        F.size(shingles_of_words(F.col("__w"), n)).cast("long").alias("n_grams"),
    )
    c4 = (
        F.floor(F.col("n_hits").cast("double") / F.col("n_grams").cast("double") * 10000)
        .cast("long")
        .alias("contamination4")
    )
    return hits.join(sizes, "doc_id").select("doc_id", "n_hits", "n_grams", c4)


def _release_checkpoints(*dfs: DataFrame) -> None:
    """Free superseded ``localCheckpoint`` rounds of an iterative loop.
    ``DataFrame.unpersist`` does not reach a checkpoint's blocks: they
    belong to the checkpointed RDD under the plan's ``LogicalRDD``
    node, so that RDD is unpersisted.  Call only once the next round's
    checkpoint has materialized; nothing may read these rounds after."""
    for df in dfs:
        df._jdf.queryExecution().logical().rdd().unpersist(False)


def min_label_components(pairs: DataFrame, a: str = "doc_a", b: str = "doc_b") -> DataFrame:
    """Connected components over an undirected pair graph by min-label
    propagation TO A FIXPOINT: a driver loop over shuffle-once rounds
    (the kmeans_train pattern — the data never leaves the cluster, the
    driver sees one scalar per round).  Exact for ANY component
    diameter; rounds = graph diameter.

    Convergence probe: labels only ever DECREASE (least of self and
    neighborhood min), so the per-round label sum is strictly
    decreasing until the fixpoint — an unchanged sum IS convergence.
    Summed as decimal(38,0): a long sum could overflow on billions of
    64-bit ids and silently wrap.

    Each round ``localCheckpoint``s its labels: iterative self-joins
    otherwise nest every prior round's plan inside the next (analyzer
    blowup — the driver, not the data, OOMs past ~5 rounds).  The
    checkpoint is LAZY and the probe collect materializes it — ONE job
    per round, not a checkpoint job plus a probe job (folding the two
    measured 5.5 -> ~3 s at sf0.1, where the per-job floor dominates).
    The checkpoint truncates lineage to the materialized round, and
    the superseded round's checkpoint is released once the next one has
    materialized (``_release_checkpoints``): only the returned labels
    stay persisted.  Near-dup graphs are shallow, so rounds stay
    single-digit; for adversarially deep graphs the classic alternative
    is large-star/small-star (more shuffle per round, O(log n) rounds).
    """
    from pyspark.storagelevel import StorageLevel

    edges = (
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .union(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = (
        edges.select(F.col("src").alias("v"))
        .distinct()
        .withColumn("lbl", F.col("v"))
        .localCheckpoint(eager=False)
    )
    probe = F.sum(F.col("lbl").cast("decimal(38,0)"))
    prev_sum = labels.agg(probe).collect()[0][0]
    while True:
        neigh = (
            edges.join(labels, edges["dst"] == labels["v"])
            .groupBy("src")
            .agg(F.min("lbl").alias("nb_min"))
        )
        prev = labels
        labels = (
            labels.join(neigh, labels["v"] == neigh["src"], "left")
            .select(
                labels["v"],
                F.least(F.col("lbl"), F.coalesce(F.col("nb_min"), F.col("lbl"))).alias("lbl"),
            )
            .localCheckpoint(eager=False)
        )
        cur_sum = labels.agg(probe).collect()[0][0]
        _release_checkpoints(prev)
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    edges.unpersist()
    return labels.select(F.col("v").alias("doc_id"), F.col("lbl").alias("component"))


def star_components(pairs: DataFrame, a: str = "doc_a", b: str = "doc_b") -> DataFrame:
    """Connected components by ALTERNATING large-star / small-star
    (Kiveris, Lattanzi, Mirrokni, Rastogi & Vassilvitskii 2014,
    "Connected Components in MapReduce and Beyond", two-phase
    algorithm) — the deep-graph scale path: O(log^2 n) rounds versus
    min_label_components' rounds = graph DIAMETER.  A web-scale
    near-dup graph has chain families (templated page series) hundreds
    of hops deep; diameter-many full-edge shuffles is the one way the
    min-label form degrades, and this is the published fix.

    One round = large-star then small-star, each a single grouped
    shuffle over the edge relation:
      large-star(u): m = min(neighborhood(u) + u); every neighbor
        v > u re-attaches to m;
      small-star(u) on edges oriented large->small: m = min of u's
        smaller neighbors; u and all of them attach to m.
    Both only ever DECREASE the partner a vertex points at, and the
    fixpoint is exactly the star set rooted at each component's
    minimum vertex — the same (v, min-of-component) mapping
    min_label_components converges to (property-tested equal).

    Convergence is checked EXACTLY (a left-anti join proving the
    canonical edge set is unchanged), never by a lossy checksum — a
    hash-collision false stop would silently merge/split components.
    Each round localCheckpoints (lazily — the probe materializes it)
    so the analyzer never re-nests prior rounds.
    """
    lit_edges = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))

    def canon(e: DataFrame) -> DataFrame:
        # orient src > dst, drop self-loops, dedupe: ONE canonical form
        # for both the small-star input and the convergence compare
        big = F.greatest(F.col("src"), F.col("dst"))
        small = F.least(F.col("src"), F.col("dst"))
        return (
            e.where(F.col("src") != F.col("dst"))
            .select(big.alias("src"), small.alias("dst"))
            .distinct()
        )

    def large_star(e: DataFrame) -> DataFrame:
        both = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        m = (
            both.groupBy("src")
            .agg(F.min("dst").alias("md"))
            .select("src", F.least("md", "src").alias("mn"))
        )
        return (
            both.join(m, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
        )

    def small_star(e: DataFrame) -> DataFrame:
        # e is canonical (src > dst): dst are u's smaller neighbors
        m = e.groupBy("src").agg(F.min("dst").alias("mn"))
        attach = (
            e.join(m, "src")
            .where(F.col("dst") != F.col("mn"))
            .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
        )
        return attach.union(m.select("src", F.col("mn").alias("dst")))

    edges = canon(lit_edges).localCheckpoint(eager=False)
    while True:
        nxt = canon(small_star(canon(large_star(edges)))).localCheckpoint(eager=False)
        # exact unchanged-set probe: same cardinality and no new edges
        n_new = nxt.join(edges, ["src", "dst"], "left_anti").count()
        if n_new == 0 and nxt.count() == edges.count():
            edges = nxt
            break
        edges = nxt
    # converged star set: (v, root) for every non-root vertex; roots
    # map to themselves
    roots = edges.select(F.col("dst").alias("v")).distinct().withColumn(
        "component", F.col("v")
    )
    return (
        edges.select(F.col("src").alias("doc_id"), F.col("dst").alias("component"))
        .unionByName(roots.select(F.col("v").alias("doc_id"), "component"))
        .distinct()
    )


def jump_label_components(pairs: DataFrame, a: str = "doc_a", b: str = "doc_b") -> DataFrame:
    """Connected components by min-label propagation WITH pointer
    jumping — the big-graph path ``adaptive_components`` routes to
    (r15, VERDICT r14 ask #2).

    Each round folds two DECREASING sources into every vertex's label
    — the min label republished by its CHANGED neighbors (the hook,
    run in both edge directions over a delta frontier) and then its
    label's label (the pointer jump / shortcut — what beats rounds =
    diameter), composed sequentially on the post-hook labels.  Labels
    only decrease and only take vertex-id values from the vertex's own
    component, so (a) the changed-label count is an EXACT convergence
    probe (every decrease is republished, so an empty delta means each
    edge's endpoints have folded each other's CURRENT labels — no
    lossy checksum), and (b) at the fixpoint labels are constant per
    component and the component min m keeps lbl(m) = m — the same
    (vertex, min-of-component) relation min_label_components and
    star_components converge to (property-tested equal to the
    union-find oracle).

    Round shape and count: ONE join of the static persisted edge
    relation against the shrinking delta (sf10: 440k labels round 1,
    28k round 2) plus vertex-scale joins, against star_components'
    per-round canon-distinct + two grouped shuffles + an exact
    anti-join probe that all REWRITE the edge relation.  The shortcut
    composes label chains, so a d-diameter path converges in ~log2(d)
    + O(1) rounds (model-measured: 128-path 8 rounds, 10k-path 13 with
    one jump, 8 with the sequential composition; min-label needs d).
    On the minhash STAR-EDGE input (hub = bucket min,
    ``minhash_component_edges``) the seeding already performs the
    first hook — every member starts at its bucket hub — so only
    hub-to-hub chains consume rounds (sf10: 4 changing rounds over
    2.45M star edges).

    Each round ``localCheckpoint``s lazily and the probe count
    materializes it (min_label's one-job-per-round pattern); the
    checkpoint stops the analyzer from re-nesting prior rounds, and the
    rounds it supersedes are released right after it materializes."""
    from pyspark.storagelevel import StorageLevel

    edges = (
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .union(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # seed = min(v, min N(v)): one grouped pass over the (persisted)
    # both-direction edges; on star-edge inputs this IS "label = hub"
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("__md"))
        .select(
            F.col("src").alias("v"),
            F.least(F.col("__md"), F.col("src")).alias("lbl"),
        )
        .localCheckpoint(eager=False)
    )
    # delta-frontier rounds: only labels that CHANGED last round are
    # re-published to neighbors (round 1 publishes everything).  Exact:
    # labels only decrease, every decrease is republished, so at the
    # empty-delta fixpoint each edge's endpoints have folded each
    # other's CURRENT labels — equal labels per component (and the
    # count probe doubles as the convergence test: no lossy checksum).
    # At scale this is the difference between joining the static edge
    # relation against the full vertex set every round and against a
    # geometrically shrinking frontier (sf10: 440k -> 28k after one
    # round); the hook is SEQUENTIALLY composed with the jump (jump
    # runs on post-hook labels), which cut the 2.45M-edge star graph
    # from 6 changing rounds (parallel form) to 4.
    delta = ck = labels
    while True:
        nb = (
            edges.join(delta, edges["dst"] == delta["v"])
            .groupBy("src")
            .agg(F.min("lbl").alias("__nbl"))
        )
        hooked = (
            labels.join(nb, labels["v"] == nb["src"], "left")
            .select(
                labels["v"],
                F.least(
                    labels["lbl"], F.coalesce(F.col("__nbl"), labels["lbl"])
                ).alias("lbl"),
            )
            .localCheckpoint(eager=False)  # pinned: the jump references it twice
        )
        par = hooked.select(F.col("v").alias("__pv"), F.col("lbl").alias("__plbl"))
        old = labels.select(F.col("v").alias("__ov"), F.col("lbl").alias("__olbl"))
        new_labels = (
            hooked.join(par, hooked["lbl"] == par["__pv"], "left")
            .select(
                hooked["v"],
                F.least(
                    hooked["lbl"], F.coalesce(F.col("__plbl"), hooked["lbl"])
                ).alias("lbl"),
            )
            .join(old, F.col("v") == F.col("__ov"))
            .select("v", "lbl", (F.col("lbl") != F.col("__olbl")).alias("__chg"))
            .localCheckpoint(eager=False)
        )
        n_changed = new_labels.where("__chg").count()  # materializes the round
        # the previous round (or the seed) and this round's hooked
        # labels are now only read through new_labels
        _release_checkpoints(hooked, ck)
        ck = new_labels
        labels = new_labels.select("v", "lbl")
        delta = new_labels.where("__chg").select("v", "lbl")
        if n_changed == 0:
            break
    edges.unpersist()
    return labels.select(F.col("v").alias("doc_id"), F.col("lbl").alias("component"))


def hamming_near_dup_pairs(
    sig: DataFrame,
    id_col: str = "media_id",
    sig_col: str = "dhash",
    bits: int = 63,
    bands: int = 9,
    max_hamming: int = 6,
    strategy: str = "distinct",
    blocks: int | None = None,
    r: int | None = None,
) -> DataFrame:
    """Near-dup pairs over a PRECOMPUTED hamming-space signature column
    (e.g. a perceptual image dHash): any pair within hamming < ``bands``
    shares at least one exact band (pigeonhole), so a banded join finds
    every pair without an n² compare.  Signatures must be non-negative
    (<= 63 bits).

    ``strategy`` picks the join shape by the hash family's entropy — a
    data property the caller knows and the planner can't:

    * ``"distinct"`` (default — perceptual hashes, bounded spaces):
      the banded self-join runs on DISTINCT signature VALUES, not on
      ids (the r12 ladder lesson).  A perceptual hash has at most
      2^bits — and, on self-similar corpora, far fewer — distinct
      values, so an id-level band join degenerates into bucket²
      candidate explosion the moment signatures collide at scale.
      Measured at the sf1 rung (50k synthetic images, 616 distinct
      dHashes): the id-level join generates 1.49 BILLION candidate
      rows; the value-level join generates 189k sig-pair candidates,
      verifies popcount on those, and only then expands the ~5.6k
      surviving signature pairs (plus the identical-signature
      diagonal) back to id pairs — shuffle volume is
      O(distinct·bands + true output).  Equal-signature groups can be
      single-key-skewed by construction, which is exactly the shape
      AQE's OptimizeSkewedJoin splits — keep AQE on.

    * ``"direct"`` (uniform wide hashes, e.g. md5-derived simhash60):
      the classic id-level banded self-join with the popcount verify
      inside the join stage (the r11 lesson).  When distinct ≈ n the
      distinct plan's extra distinct + two expansion joins are pure
      overhead (measured 0.41 s -> 6.2 s at the sf1 rung for 60-bit
      simhash); direct is the right shape because uniform band values
      keep buckets at n/2^width + true-dup cluster sizes, so
      candidates stay output-proportional."""
    # argument contracts (ValueError, not assert: -O must not strip the
    # pigeonhole-completeness precondition — ADVICE r12)
    if blocks is None and not (max_hamming < bands and bits % bands == 0):
        raise ValueError(
            f"need max_hamming < bands and bands | bits (got max_hamming="
            f"{max_hamming}, bands={bands}, bits={bits}): banded LSH is only "
            "complete for hamming < bands over equal-width bands"
        )
    if (blocks is None) != (r is None):
        raise ValueError("blocks and r must be given together")
    if strategy not in ("distinct", "direct"):
        raise ValueError(f"unknown strategy {strategy!r}")
    width = bits // bands
    mask = (1 << width) - 1
    members = sig.select(F.col(id_col).alias("sid"), F.col(sig_col).alias("sg"))
    if strategy == "direct" and blocks is not None:
        # id-level COMBINATION banding (see near_signature_pairs): the
        # single-band scheme skews on correlated signatures; combo keys
        # of r block values keep candidates output-proportional, and
        # the lowest-clean-combo filter emits each pair exactly once
        # with no dedup exchange (both signatures are in the row).
        cwidth, cmask, combos, masks = _combo_scheme(bits, max_hamming, blocks, r)
        belows = _combo_below_masks(combos, masks)
        banded = members.select(
            "sid",
            "sg",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(cm).alias("combo_mask"),
                            F.lit(bm).alias("below_mask"),
                            _combo_key(F.col("sg"), c, cwidth, cmask).alias(
                                "combo_key"
                            ),
                        )
                        for c, cm, bm in zip(combos, masks, belows)
                    ]
                )
            ).alias("b"),
        ).select(
            "sid",
            "sg",
            F.col("b.combo_mask").alias("combo_mask"),
            F.col("b.below_mask").alias("below_mask"),
            F.col("b.combo_key").alias("combo_key"),
        )
        a, b = banded.alias("a"), banded.alias("b")
        xor = F.col("a.sg").bitwiseXOR(F.col("b.sg"))
        return (
            a.join(
                b,
                (F.col("a.combo_mask") == F.col("b.combo_mask"))
                & (F.col("a.combo_key") == F.col("b.combo_key"))
                & (F.col("a.sid") < F.col("b.sid")),
            )
            .filter(
                _combo_clean_mask(xor, cwidth, cmask, blocks).bitwiseAND(
                    F.col("a.below_mask")
                )
                == 0
            )
            .select(
                F.col("a.sid").alias("id_a"),
                F.col("b.sid").alias("id_b"),
                F.bit_count(xor).cast("long").alias("hamming"),
            )
            .filter(F.col("hamming") <= max_hamming)
        )
    if strategy == "direct":
        banded = members.select(
            "sid",
            "sg",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band_idx"),
                            F.shiftright(F.col("sg"), i * width)
                            .bitwiseAND(F.lit(mask))
                            .alias("band_val"),
                        )
                        for i in range(bands)
                    ]
                )
            ).alias("b"),
        ).select(
            "sid", "sg", F.col("b.band_idx").alias("band_idx"), F.col("b.band_val").alias("band_val")
        )
        a, b = banded.alias("a"), banded.alias("b")
        xor = F.col("a.sg").bitwiseXOR(F.col("b.sg"))
        hamming = F.bit_count(xor).cast("long")
        # canonical-band emission (r13, the minhash canonical-combo
        # lesson applied here): a pair within hamming <= max matches on
        # possibly several bands and used to ride a dropDuplicates
        # EXCHANGE; both signatures are in the row, so the row can
        # decide locally whether ITS band is the pair's lowest matching
        # band — matched_mask collects which bands of the xor are zero,
        # and the row survives iff no lower band matched.
        matched_mask = sum(
            F.when(
                F.shiftright(xor, j * width).bitwiseAND(F.lit(mask)) == 0,
                F.lit(1 << j),
            ).otherwise(F.lit(0))
            for j in range(bands)
        )
        below = F.array(*[F.lit((1 << j) - 1) for j in range(bands)])
        return (
            a.join(
                b,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_val") == F.col("b.band_val"))
                & (F.col("a.sid") < F.col("b.sid")),
            )
            .filter(
                matched_mask.bitwiseAND(F.element_at(below, F.col("a.band_idx") + 1))
                == 0
            )
            .select(
                F.col("a.sid").alias("id_a"),
                F.col("b.sid").alias("id_b"),
                hamming.alias("hamming"),
            )
            .filter(F.col("hamming") <= max_hamming)
        )
    distinct = members.select("sg").distinct()
    # near signature pairs (sg_a < sg_b) on the VALUE relation, plus
    # the diagonal (sg, sg, 0) carrying equal-signature groups
    sig_pairs = near_signature_pairs(
        distinct, bits, bands, max_hamming, blocks=blocks, r=r
    ).unionByName(
        distinct.select(
            F.col("sg").alias("sg_a"),
            F.col("sg").alias("sg_b"),
            F.lit(0).cast("long").alias("hamming"),
        )
    )
    # expand back to id pairs: each doc pair has exactly ONE signature
    # pair, so no pair-level dedup is needed.  Off-diagonal cross pairs
    # appear once (ordered by least/greatest); diagonal pairs appear
    # twice and the sid filter keeps one.
    m1, m2 = members.alias("m1"), members.alias("m2")
    return (
        sig_pairs.join(m1, F.col("m1.sg") == F.col("sg_a"))
        .join(m2, F.col("m2.sg") == F.col("sg_b"))
        .filter((F.col("sg_a") != F.col("sg_b")) | (F.col("m1.sid") < F.col("m2.sid")))
        .select(
            F.least("m1.sid", "m2.sid").alias("id_a"),
            F.greatest("m1.sid", "m2.sid").alias("id_b"),
            "hamming",
        )
    )


def near_signature_pairs(
    distinct_sigs: DataFrame,
    bits: int,
    bands: int,
    max_hamming: int,
    blocks: int | None = None,
    r: int | None = None,
) -> DataFrame:
    """(sg_a, sg_b, hamming) with sg_a < sg_b over a DISTINCT-signature
    relation (column ``sg``): the banded hamming-LSH self-join at the
    VALUE level — complete for hamming < bands by pigeonhole, verified
    by popcount inside the join stage's codegen, deduped across bands
    on the value relation (O(distinct·bands) shuffle, never O(n·bands)).
    The shared core of ``hamming_near_dup_pairs``'s distinct strategy
    and ``simhash_dedup_summary``'s bounded canonicalization.

    ``blocks``/``r`` select COMBINATION banding (r14, guide §2.5): the
    signature splits into ``blocks`` equal blocks and every
    C(blocks, r) combination of r block VALUES is a join key — complete
    for hamming <= blocks - r (<= max_hamming corrupted blocks leave
    >= r clean ones, so the combo of the lowest r clean blocks
    matches).  The default single-band scheme (r = 1) is the wrong
    shape the moment band values SKEW: simhash votes correlate with
    the corpus word distribution (they are majorities, not md5 bits),
    and at the sf10 rung the 60-bit 4x15 single-band join piled 27,388
    signatures into one band bucket — 2.68 BILLION candidate pairs for
    1.5M true pairs.  blocks=6, r=3 keys on 30 bits instead of 15:
    92M candidates, same output (measured on the same relation;
    completeness and pair-identity are property-pinned).  Each
    surviving pair is emitted from its lowest all-clean combo only
    (decided row-locally from the XOR — both signatures are in the
    row), so no cross-band dedup exchange exists."""
    if (blocks is None) != (r is None):
        raise ValueError("blocks and r must be given together")
    if blocks is not None:
        return _near_signature_pairs_combo(
            distinct_sigs, bits, max_hamming, blocks, r
        )
    width = bits // bands
    mask = (1 << width) - 1
    banded = distinct_sigs.select(
        "sg",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftright(F.col("sg"), i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("b"),
    ).select("sg", F.col("b.band_idx").alias("band_idx"), F.col("b.band_val").alias("band_val"))
    a, b = banded.alias("a"), banded.alias("b")
    hamming = F.bit_count(F.col("a.sg").bitwiseXOR(F.col("b.sg"))).cast("long")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.sg") < F.col("b.sg")),
        )
        .select(
            F.col("a.sg").alias("sg_a"),
            F.col("b.sg").alias("sg_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["sg_a", "sg_b"])
    )


def _combo_scheme(bits: int, max_hamming: int, blocks: int, r: int):
    """Validated combination-banding scheme pieces shared by the value-
    and id-level joins: (width, mask, combos, combo block-masks)."""
    import itertools

    if bits % blocks != 0:
        raise ValueError(f"blocks ({blocks}) must divide bits ({bits})")
    if not 1 <= r <= blocks - max_hamming:
        raise ValueError(
            f"need 1 <= r <= blocks - max_hamming for completeness "
            f"(got r={r}, blocks={blocks}, max_hamming={max_hamming})"
        )
    width = bits // blocks
    if r * width > 62:
        raise ValueError(f"combo key {r}x{width} bits exceeds signed long")
    combos = list(itertools.combinations(range(blocks), r))
    masks = [sum(1 << b for b in c) for c in combos]
    return width, (1 << width) - 1, combos, masks


def _combo_key(sig_col: Column, combo, width: int, mask: int) -> Column:
    k = None
    for b in combo:
        blk = F.shiftright(sig_col, b * width).bitwiseAND(F.lit(mask))
        k = blk if k is None else F.shiftleft(k, width).bitwiseOR(blk)
    return k


def _combo_clean_mask(xor: Column, width: int, mask: int, n_blocks: int) -> Column:
    """Bitmask of CLEAN blocks (block value identical in both
    signatures), decided row-locally from the XOR of the two
    signatures.  Materialize this in its own projection — the
    canonical-combo test references it once per combo, and
    CollapseProject would otherwise re-evaluate the n_blocks-term sum
    per reference."""
    return sum(
        F.when(
            F.shiftright(xor, bi * width).bitwiseAND(F.lit(mask)) == 0,
            F.lit(1 << bi),
        ).otherwise(F.lit(0))
        for bi in range(n_blocks)
    )


def _combo_below_masks(combos, masks) -> list[int]:
    """Per-combo LITERAL for the lowest-clean-combo test: the mask of
    block indices strictly below the combo's highest block that are
    NOT in the combo.  A pair's combo is its lexicographically first
    all-clean combination (== the lowest r set bits of the clean
    mask) iff NO clean block sits below the combo's highest block
    outside the combo — i.e. ``clean & below_mask == 0``.

    Why this form: the first implementation computed the first-clean
    index per row (boolean array + array_position: 47 s at the sf10
    rung — per-row GenericArrayData allocation; then r chained
    lowest-bit extractions: 46 s — the optimizer pushed the filter
    INTO the SMJ join condition and inlined the 6-term clean-mask sum
    into every reference, exploding to hundreds of CASE WHENs per
    candidate row).  With the below-mask literal the clean mask is
    referenced ONCE, so even fully pushed down the test is ~8 integer
    ops per candidate (measured 3.4 s for the same join)."""
    return [((1 << max(c)) - 1) & ~m for c, m in zip(combos, masks)]


def _near_signature_pairs_combo(
    distinct_sigs: DataFrame, bits: int, max_hamming: int, blocks: int, r: int
) -> DataFrame:
    """Combination-banding body of ``near_signature_pairs`` (see there
    for the rationale and the completeness argument)."""
    width, mask, combos, masks = _combo_scheme(bits, max_hamming, blocks, r)
    belows = _combo_below_masks(combos, masks)
    banded = distinct_sigs.select(
        "sg",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(cm).alias("combo_mask"),
                        F.lit(bm).alias("below_mask"),
                        _combo_key(F.col("sg"), c, width, mask).alias("combo_key"),
                    )
                    for c, cm, bm in zip(combos, masks, belows)
                ]
            )
        ).alias("b"),
    ).select(
        "sg",
        F.col("b.combo_mask").alias("combo_mask"),
        F.col("b.below_mask").alias("below_mask"),
        F.col("b.combo_key").alias("combo_key"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    xor = F.col("a.sg").bitwiseXOR(F.col("b.sg"))
    # lowest-clean-combo emission: exactly one row per pair, no
    # cross-combo dedup exchange (see _combo_below_masks)
    return (
        a.join(
            b,
            (F.col("a.combo_mask") == F.col("b.combo_mask"))
            & (F.col("a.combo_key") == F.col("b.combo_key"))
            & (F.col("a.sg") < F.col("b.sg")),
        )
        .filter(
            _combo_clean_mask(xor, width, mask, blocks).bitwiseAND(
                F.col("a.below_mask")
            )
            == 0
        )
        .select(
            F.col("a.sg").alias("sg_a"),
            F.col("b.sg").alias("sg_b"),
            F.bit_count(xor).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_dedup_summary(
    df: DataFrame, text_col: str = "text", max_hamming: int = 2, bits: int = 16, bands: int = 4
) -> DataFrame:
    """Bounded-output SimHash near-dedup: per-document canonical
    survivor + neighborhood size instead of the pair listing.

    Output (one row per document — O(n) at ANY corpus size):
      doc_id, canon_id (min doc_id over all documents whose signature
      is within ``max_hamming`` of this one's, itself included),
      n_near (count of those documents, itself included).

    Why this shape (r13, VERDICT r12 ask #2): a pair-listing query over
    a SATURATING signature space is output-quadratic by definition —
    at 16 bits any corpus beyond a few thousand docs piles C(k,2) pairs
    per equal-signature clique (measured 539k pairs at 5k docs → 53M at
    50k on the scale ladder), so no plan can save the query.  The
    canonical-survivor form is what a dedup pipeline consumes anyway
    (keep doc_id == canon_id, or weight by n_near), and its cost is the
    VALUE-level banded join of ``near_signature_pairs`` — O(distinct ·
    bands + n) shuffle rows, distinct ≤ 2^bits forever.  One-hop
    neighborhood semantics (not transitive closure): exact,
    order-independent, and SQL-recomputable in the oracle; the
    transitive form is ``adaptive_components`` over the pair relation.

    Reference behavior re-expressed: the near-dup admission flow of
    spark-binlog's downstream dedup consumers (SURVEY §2 LLM-pipeline
    rows); the wide-signature pair listing lives on as
    ``q_simhash60_near_dups`` where pairs are genuinely sparse.
    """
    return hamming_dedup_summary(
        simhash(df, text_col, bits),
        id_col="doc_id",
        sig_col="simhash16",
        bits=bits,
        bands=bands,
        max_hamming=max_hamming,
    )


def hamming_dedup_summary(
    sig: DataFrame,
    id_col: str,
    sig_col: str,
    bits: int,
    bands: int,
    max_hamming: int,
    blocks: int | None = None,
    r: int | None = None,
) -> DataFrame:
    """Bounded canonical-survivor summary over ANY precomputed
    hamming-space signature relation (the generalization the image and
    audio perceptual-dedup queries share with the 16-bit simhash form):
    one row per input row — (id_col, canon_id, n_near) over the one-hop
    hamming <= max_hamming neighborhood.  Plan: value-level banded join
    over DISTINCT signatures (``near_signature_pairs``) + one keyed
    neighbor aggregation + one map-back join — output O(n) regardless
    of duplicate-cluster structure, which is what retires the
    rows-alpha-2.0 pair listings the r12/r13 ladders flagged.

    ``blocks``/``r`` select combination banding for the candidate join
    (see ``near_signature_pairs`` — the single-band default skews on
    correlated signatures; the scheme is plan-level, the output is
    identical)."""
    if blocks is None and not (max_hamming < bands and bits % bands == 0):
        raise ValueError(
            f"need max_hamming < bands and bands | bits (got max_hamming="
            f"{max_hamming}, bands={bands}, bits={bits})"
        )
    from pyspark.storagelevel import StorageLevel

    from spark_binlog_spark.cache_util import release, swap_caches

    # PERSIST both relations the plan references more than once (r14,
    # found by the sf10 rung of the 60-bit summary): ``sig`` feeds the
    # distinct grouping AND the final map-back join, and ``per`` feeds
    # the banded pair join, the diagonal union and the neighbor-stats
    # join — without the persists every reference re-runs the FULL
    # signature computation (for the 60-bit form that is a word-explode
    # + 60 vote aggregations per pass: 469 s at sf10 vs ~90 s for one
    # pass).  ``sig`` caches as (id, signature) — two longs per row —
    # and ``per`` is bounded by the distinct-signature count.
    release("dedup.hamming_dedup_summary")
    sig = sig.select(id_col, sig_col).persist(StorageLevel.MEMORY_AND_DISK)
    per = sig.groupBy(sig_col).agg(
        F.min(id_col).alias("m"), F.count("*").cast("long").alias("c")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # ``pairs`` is referenced twice by the symmetrize union below —
    # unpersisted, every action ran the ENTIRE banded candidate join
    # twice (r14: half of the 60-bit summary's 58 s at the sf10 rung).
    # The relation is bounded by TRUE near-dup signature pairs, so the
    # cache is small by construction.
    pairs = near_signature_pairs(
        per.select(F.col(sig_col).alias("sg")), bits, bands, max_hamming,
        blocks=blocks, r=r,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    swap_caches("dedup.hamming_dedup_summary", [sig, per, pairs])
    # symmetrize + diagonal: for each signature, every near signature
    # (including itself) exactly once
    sym = (
        pairs.select(F.col("sg_a").alias("sg"), F.col("sg_b").alias("nb"))
        .unionByName(pairs.select(F.col("sg_b").alias("sg"), F.col("sg_a").alias("nb")))
        .unionByName(
            per.select(F.col(sig_col).alias("sg"), F.col(sig_col).alias("nb"))
        )
    )
    nbstats = (
        sym.join(per.select(F.col(sig_col).alias("nb"), "m", "c"), "nb")
        .groupBy("sg")
        .agg(F.min("m").alias("canon_id"), F.sum("c").cast("long").alias("n_near"))
    )
    return sig.join(nbstats, sig[sig_col] == nbstats["sg"]).select(
        id_col, "canon_id", "n_near"
    )


DRIVER_CC_MAX_EDGES = 200_000  # ~a few MB of (long, long) pairs


def adaptive_components(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    driver_max_edges: int = DRIVER_CC_MAX_EDGES,
) -> DataFrame:
    """Connected components with a small-graph gate — the adaptive
    strategy broadcast-join thresholds use, applied to the fixpoint:
    a near-dup graph at sf0.1 is ~3k edges yet the distributed star
    fixpoint still pays ~16 driver-scheduled rounds (5-9 s of pure
    round latency).  When the CANONICAL edge count is under
    ``driver_max_edges`` (a few MB — explicitly bounded, like a
    broadcast build side), the edge set is collected once and solved
    with union-find on the driver in one job + one createDataFrame;
    anything larger takes ``jump_label_components`` (pointer-jump
    min-label, ~log2(diameter) rounds — r15).  Both branches produce
    the identical (vertex, min-of-component) relation (property-tested
    against each other and the union-find oracle), so the gate is
    invisible to correctness."""
    canon = (
        pairs.where(F.col(a) != F.col(b))
        .select(
            F.greatest(F.col(a), F.col(b)).alias("src"),
            F.least(F.col(a), F.col(b)).alias("dst"),
        )
        .distinct()
        .persist()
    )
    try:
        n_edges = canon.count()
        if n_edges > driver_max_edges:
            # r15 (VERDICT r14 ask #2): the big-graph path is
            # jump_label_components — pointer-jump min-label, ~log2(d)
            # rounds of ONE edge join + grouped min each, vs the
            # star alternation's two grouped edge shuffles + canon
            # distincts + anti-join probe per round (sf10 measured:
            # 25.8 s star -> see OPTIMIZATION_r15.md; star_components
            # stays as the published-algorithm reference,
            # property-tested equal)
            return jump_label_components(canon, "src", "dst")
        edge_rows = canon.collect()  # bounded by the gate above
    finally:
        canon.unpersist()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for r in edge_rows:
        u, v = r["src"], r["dst"]
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by MIN root so the final label is the component min
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    out = [(v, find(v)) for v in parent]
    spark = pairs.sparkSession
    if not out:
        return spark.createDataFrame([], "doc_id long, component long")
    # two r14 fixes for the driver-path RESULT (the gate bounds it to
    # <= 2*driver_max_edges narrow rows, so both are safe):
    # - localCheckpoint (LAZY, like min_label's rounds): a parallelized
    #   Python list is re-pickled through a Python-worker roundtrip per
    #   partition on EVERY action; the checkpoint pins it as JVM rows
    #   the first time an action touches it (measured: re-action
    #   0.28 -> 0.035 s at sf0.1; eager=True was tried and costs an
    #   extra synchronous materialization job ~+0.35 s inside
    #   construction-timed consumers like the bench's q_dup_components
    #   entry, so lazy it is);
    # - broadcast hint: the RDD-backed relation has no size statistics,
    #   so a downstream join would otherwise SortMergeJoin both sides
    #   (measured 0.23 -> 0.93 s on q_dedup_canonical's sf0.1 timed
    #   region).  The star path below returns an unbounded relation and
    #   stays unhinted.
    comp = spark.createDataFrame(out, "doc_id long, component long")
    return F.broadcast(comp.localCheckpoint(eager=False))


def simhash(
    df: DataFrame, text_col: str = "text", bits: int = 16, kernel: bool = True
) -> DataFrame:
    """Per-document SimHash over word hashes (bit-majority vote).

    Default plan (r14, guide §4.2): ONE Arrow-batched ``mapInPandas``
    kernel — per batch, words are md5-hashed in Python (memoized per
    task; word repetition makes hits the common case) and ALL ``bits``
    vote sums reduce in two vectorized numpy ops (bit-unpack +
    ``add.reduceat`` over doc boundaries).  The Catalyst form
    (``kernel=False``, kept as the property-test reference and
    plan-level fallback) pays ``bits`` separate sum(CASE) aggregates
    per word INSTANCE: measured at the sf10 rung, 16.5 s for 16 bits
    and ~31 s for 60 bits against ~3 s for the kernel — the per-row
    cost is the md5 + 60 branchy agg updates, not the shuffle (the
    doc-keyed aggregate is map-side partial either way).  Both paths
    are bit-identical (TestSimhashKernelModel pins it; every hash is
    the md5 prefix both engines compute).

    ``bits`` <= 16 uses the legacy h16 word hash (the graded 16-bit
    form); wider signatures (up to 60 — 15 md5 hex chars, staying in
    signed-long range in both engines) take the md5 prefix of matching
    width.  Wide signatures are the scale-correct near-dup form: with
    16-bit signatures over a large corpus, both band-value space (16
    values per 4-bit band) and the signature space itself saturate, so
    candidate AND true-pair counts grow ~n² — a data property, not an
    implementation one (measured on the sf0.1->sf1 ladder, round 11).
    """
    # argument contract (survives ``python -O``, unlike an assert):
    # folding >60 bits would overflow the signed-long in both engines
    if not 1 <= bits <= 60:
        raise ValueError(f"simhash bits must be in [1, 60] (got {bits})")
    # the per-word hash pass is parallelism-bounded by input splits,
    # not cores (guide §2.6): the sf10 fixture is ONE row group, so the
    # unspread pass ran in a single task (23 s kernel / 31 s Catalyst
    # measured) — no-op on well-split tables
    df = spread_small_input(df.select("doc_id", F.col(text_col)))
    if kernel:
        return _simhash_kernel(df, text_col, bits)
    w = df.select(F.col("doc_id"), F.explode(F.split(F.col(text_col), " ")).alias("word"))
    if bits <= 16:
        word_hash = h16(F.col("word"))
    else:
        nhex = (bits + 3) // 4
        word_hash = F.conv(
            F.substring(F.md5(F.col("word").cast("string")), 1, nhex), 16, 10
        ).cast("long")
    hashed = w.select("doc_id", word_hash.alias("h"))
    vote_aggs = [
        F.sum(
            F.expr(f"CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN 1 ELSE -1 END")
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    wide = hashed.groupBy("doc_id").agg(*vote_aggs)
    folded = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        folded = term if folded is None else folded + term
    return wide.select("doc_id", folded.cast("long").alias("simhash16"))


def _simhash_kernel(df: DataFrame, text_col: str, bits: int) -> DataFrame:
    """Arrow-batched simhash (see ``simhash``): value-identical to the
    Catalyst form for every input.  Semantics mirrored exactly:

    - word split is ``text.split(' ')`` — like Spark's
      ``split(text, ' ')`` it keeps empty tokens (consecutive /
      leading / trailing spaces) and yields [''] for an empty string;
    - NULL text contributes no words, so the document is ABSENT from
      the output (the Catalyst explode drops it the same way);
    - the word hash is the md5 hex prefix as an integer (h16 for
      bits <= 16, (bits+3)//4 hex chars above), with unencodable
      code points mapped to '?' exactly as the JVM's UTF-8 encoder
      does;
    - bit b of the signature is set iff sum(±1 votes over word
      INSTANCES) > 0 — computed here as 2·ones_b − n_words, an
      integer identity of the same sum.
    """
    nhex = 4 if bits <= 16 else (bits + 3) // 4

    def sigs(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        memo: dict[str, int] = {}
        shifts = np.arange(bits, dtype=np.uint64)

        def h(word: str) -> int:
            v = memo.get(word)
            if v is None:
                v = int(
                    hashlib.md5(word.encode("utf-8", "replace")).hexdigest()[:nhex],
                    16,
                )
                if len(memo) < (1 << 20):  # bound task-lifetime memory
                    memo[word] = v
            return v

        empty = pd.DataFrame(
            {
                "doc_id": pd.Series([], dtype="int64"),
                "simhash16": pd.Series([], dtype="int64"),
            }
        )
        # sub-chunk the Arrow batch so the bit-matrix working set stays
        # a few MB: this sandbox's first-touch page faults make LARGE
        # fresh numpy allocations pathologically slow (measured 17 s
        # for the first 10k-doc batch vs 0.4 s once pages are warm),
        # and a small reused working set sidesteps that entirely while
        # also bounding kernel memory (guide §4.2 batch-size note).
        CHUNK_DOCS = 2000
        for pdf in batches:
            ids_all = pdf["doc_id"].tolist()
            texts_all = pdf[text_col].tolist()
            out_frames = []
            for lo in range(0, len(ids_all), CHUNK_DOCS):
                doc_ids: list[int] = []
                counts: list[int] = []
                hash_chunks: list[np.ndarray] = []
                for d, t in zip(
                    ids_all[lo : lo + CHUNK_DOCS], texts_all[lo : lo + CHUNK_DOCS]
                ):
                    if t is None:
                        continue
                    ws = t.split(" ")
                    doc_ids.append(int(d))
                    counts.append(len(ws))
                    hash_chunks.append(
                        np.fromiter((h(w) for w in ws), np.uint64, count=len(ws))
                    )
                if not doc_ids:
                    continue
                harr = np.concatenate(hash_chunks)
                cnts = np.array(counts, np.int64)
                starts = np.zeros(len(cnts), np.int64)
                starts[1:] = np.cumsum(cnts[:-1])
                # ones[b, d] = count of word instances in doc d with
                # bit b set; vote sum s_b = 2*ones_b - n_words (each
                # clear bit votes -1).  unpackbits over the
                # little-endian byte view is ~800x faster than a
                # broadcast uint64 shift (measured: 12 s vs 0.015 s
                # per 600k-word batch), and reduceat runs on the
                # transposed bit matrix so each of the `bits` segments
                # is contiguous.
                bitm = np.unpackbits(
                    harr.astype("<u8").view(np.uint8).reshape(-1, 8),
                    axis=1,
                    bitorder="little",
                )[:, :bits]
                bt = np.ascontiguousarray(bitm.T).astype(np.int32)
                ones = np.add.reduceat(bt, starts, axis=1)  # bits x docs
                pos = (2 * ones.T.astype(np.int64) - cnts[:, None]) > 0
                sig = (pos.astype(np.uint64) << shifts).sum(axis=1).astype(np.int64)
                out_frames.append(
                    pd.DataFrame(
                        {"doc_id": np.array(doc_ids, np.int64), "simhash16": sig}
                    )
                )
            yield pd.concat(out_frames) if out_frames else empty

    return df.select("doc_id", text_col).mapInPandas(
        sigs, "doc_id long, simhash16 long"
    )


def repeated_span_stats(df: DataFrame, n: int = 8, text_col: str = "text") -> DataFrame:
    """EXACT-SUBSTRING duplication stats (the word-level analogue of
    suffix-array substring dedup — find every length-``n`` word span
    that also occurs in another document, and each document's duplicated
    fraction, the signal a span-removal cleaning pass thresholds on).

    Per doc: ``n_spans`` (positional n-gram count), ``n_dup_spans``
    (positions whose span text occurs in >= 2 distinct docs),
    ``dup_frac4``.

    Plan shape (scales linearly, never n²): positional spans are
    hashed to h48 immediately — the shuffle carries (doc_id, span_h)
    longs, never span strings; the cross-doc span dictionary is ONE
    count over the distinct (doc, span) relation; dup flags come from a
    shuffle join keyed on span_h (both sides hash-partitioned on it —
    at corpus scale the dup dictionary is NOT broadcastable, unlike the
    boilerplate min_df dictionary which is vocabulary-bounded); final
    per-doc counts are one more doc-keyed partial agg.  The persisted
    positional relation feeds both the dictionary and the join.

    The positional span pass is an Arrow-batched kernel (r14, VERDICT
    r13 ask #6 — the compressibility recipe): the Catalyst form paid a
    per-position interpreted ``transform`` lambda doing 8 element_at
    lookups + a concat before every md5 (115.8 s at the sf10 rung).
    The kernel exploits that a word n-gram joined by single spaces IS a
    byte slice of the original UTF-8 text (split/join on one space
    roundtrips exactly, empty words included): word boundaries come
    from one cumsum, each span hashes as md5 over that slice — the
    first 6 digest bytes equal Catalyst's conv(substr(md5hex, 1, 12)),
    so span identity is BIT-IDENTICAL to the oracle's.  Only (doc_id,
    span_h) longs leave the kernel."""
    from pyspark.storagelevel import StorageLevel

    def span_hashes(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        md5 = hashlib.md5
        for pdf in batches:
            out_doc, out_h = [], []
            for did, t in zip(pdf["doc_id"].to_numpy(), pdf[text_col]):
                tb = ("" if t is None else t).encode("utf-8")
                words = tb.split(b" ")
                m = len(words)
                if m < n:
                    continue
                lens = np.fromiter((len(w) for w in words), np.int64, count=m)
                starts = np.zeros(m, np.int64)
                starts[1:] = np.cumsum(lens[:-1] + 1)
                ends = starts + lens
                k = m - n + 1
                hs = np.empty(k, np.int64)
                for i in range(k):
                    hs[i] = int.from_bytes(
                        md5(tb[starts[i] : ends[i + n - 1]]).digest()[:6], "big"
                    )
                out_doc.append(np.full(k, did, np.int64))
                out_h.append(hs)
            if out_doc:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(out_doc),
                        "span_h": np.concatenate(out_h),
                    }
                )

    pos = (
        spread_small_input(df.select("doc_id", F.col(text_col)))
        .mapInPandas(span_hashes, "doc_id long, span_h long")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dup = (
        pos.select("doc_id", "span_h").distinct()
        .groupBy("span_h")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 2)
        .select("span_h")
    )
    totals = pos.groupBy("doc_id").agg(F.count("*").alias("n_spans"))
    hits = (
        pos.join(dup, "span_h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup_spans"))
    )
    from spark_binlog_spark.functions.text import ratio4

    return (
        df.select("doc_id")
        .join(totals, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("long").alias("n_dup_spans"),
            ratio4(
                F.coalesce(F.col("n_dup_spans"), F.lit(0)),
                F.coalesce(F.col("n_spans"), F.lit(0)),
            ).alias("dup_frac4"),
        )
    )


def cross_source_dup_matrix(df: DataFrame, text_col: str = "text") -> DataFrame:
    """CORPUS FORENSICS: how much does each source pair duplicate each
    other — per unordered (source_a, source_b) pair, the number of
    distinct normalized fingerprints present in BOTH sources (a = b
    reports a source's internally-shared-with-itself... excluded; the
    diagonal is just exact-dup counting, already covered by
    exact_dedup).  The view a mixture owner reads before deciding
    which feed to drop.

    Plan: documents → (source, fp48) distinct — fp48 computed INLINE
    in the scan projection (one corpus scan, ONE shuffle for the
    distinct; joining a separate fingerprint relation back on doc_id
    would shuffle two corpus-sized relations first); self-join on fp48
    — both sides hash-partitioned on the fingerprint, never n² on
    documents; final count is a |source-pairs|-sized agg."""
    from spark_binlog_spark.functions.hashing import h48

    norm = F.regexp_replace(F.lower(F.col(text_col)), "\\s+", " ")
    fp = df.select("source", h48(norm).alias("fp48")).distinct()
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp48") == F.col("b.fp48"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.countDistinct(F.col("a.fp48")).alias("n_shared_fp"))
    )


def line_dedup_rebuild(df: DataFrame, text_col: str = "text") -> DataFrame:
    """C4-style CORPUS-WIDE line deduplication with document
    reassembly (Raffel et al. 2020 §2.2 "we discard all but one of
    any three-sentence span occurring more than once" — applied here
    at line granularity, the common open-source variant): a line is
    kept only in its FIRST occurrence across the whole corpus (lowest
    (doc_id, line_no)); every document is rebuilt from its surviving
    lines in order.  Documents whose lines all lose are dropped.

    Plan: one explode to (doc_id, line_no, line), ONE shuffle keyed on
    the normalized line hash (h48 inline in the scan projection) with
    a min_by pick of the winning occurrence, then ONE shuffle back on
    doc_id with a sort_array(collect_list(struct)) reassembly — the
    standard distributed rebuild pattern, no window over the corpus,
    no n² anything.  At 100 TB both shuffles are content-keyed and
    AQE-splittable; the struct carried through the rebuild is (int,
    line) — the full text never rides the line-hash shuffle."""
    lines = df.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), "\n")).alias("line_no", "line"),
    )
    keyed = lines.select(
        "doc_id",
        "line_no",
        "line",
        h48(F.regexp_replace(F.lower(F.col("line")), "\\s+", " ")).alias("lh"),
    )
    # winner per line hash: lexicographically smallest (doc_id, line_no)
    winners = keyed.groupBy("lh").agg(
        F.min(F.struct("doc_id", "line_no")).alias("w")
    ).select("lh", F.col("w.doc_id").alias("wdoc"), F.col("w.line_no").alias("wline"))
    kept = keyed.join(winners, "lh").filter(
        (F.col("doc_id") == F.col("wdoc")) & (F.col("line_no") == F.col("wline"))
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("line_no", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("clean_text"),
            F.count("*").cast("long").alias("n_lines_kept"),
        )
    )


# Bloom-filter decontamination constants — ONE definition shared by the
# Spark operator and the DuckDB oracle (a drifting pair silently breaks
# parity).  The K positions come from ONE md5 via Kirsch-Mitzenmacher
# double hashing (g_i = h1 + i*h2 mod M, h1/h2 = two 48-bit slices of
# the same digest — Kirsch & Mitzenmacher 2006 prove the false-positive
# asymptotics match K independent hashes): one digest per gram instead
# of K+1 kept the sweep at gram-hash cost (5 md5/gram ran 5.9 s at
# sf0.1 vs 0.6 s for this form; BASELINE.md round 7).
BLOOM_M = 1 << 22          # filter width in bits
BLOOM_K = 4                # hash functions per gram


def bloom_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 4,
) -> DataFrame:
    """Benchmark decontamination through a BLOOM FILTER instead of the
    exact gram-hash set (``decontaminate``): the benchmark's grams set
    K=4 seeded h48-mod-M bit positions in a fixed M=2^22-bit filter; a
    training gram is flagged iff ALL K of its positions are set.  This
    is the constant-size variant you deploy when the eval suite grows
    past comfortable broadcast size — the filter is M bits forever, and
    the false-positive rate is the classical (1-e^{-Kn/M})^K, which
    only ever OVER-flags (safe direction for decontamination).

    Determinism: both engines derive positions as h48(gram#seed) mod M
    from md5, so the filter — including its false positives — is
    bit-identical in Spark and the DuckDB oracle.

    Scale shape: the benchmark side collapses to DISTINCT set-bit
    positions (<= K * |bench grams| rows of one int, independent of
    benchmark text size) and is BROADCAST; the corpus side is ONE scan
    exploding each gram into K position probes, a map-side join, and a
    (doc, gram)-keyed count==K verdict — the only shuffle carries the
    surviving probe hits, never corpus text.

    Output: one row per FLAGGED doc — (doc_id, n_flagged = distinct
    grams whose K bits all hit, n_grams, flagged4).
    """
    bench_bits = bloom_bits(benchmark, text_col, n)
    return bloom_probe(docs, bench_bits, text_col, n)


def _bloom_h1h2(shingle: Column) -> tuple[Column, Column]:
    digest = F.md5(shingle.cast("string"))
    h1 = F.conv(F.substring(digest, 1, 12), 16, 10).cast("long")
    h2 = F.conv(F.substring(digest, 13, 12), 16, 10).cast("long")
    return h1, h2


def _bloom_positions(h1: Column, h2: Column) -> Column:
    # h1 + i*h2 < 2^48 * (1 + BLOOM_K) — far inside signed-64
    return F.array(*[((h1 + i * h2) % BLOOM_M) for i in range(BLOOM_K)])


def bloom_bits(
    benchmark: DataFrame, text_col: str = "text", n: int = 4
) -> DataFrame:
    """(bit,): the DISTINCT set-bit positions of the benchmark's bloom
    filter — <= K * |bench grams| ints, independent of benchmark text
    size, and a UNION monoid (set-bit sets merge idempotently), which
    is what lets a streaming sink grow the filter as eval suites are
    added."""
    bsh = doc_shingles(benchmark, text_col, n).select(
        *_bloom_h1h2(F.col("shingle"))
    )
    return (
        bsh.toDF("h1", "h2")
        .select(
            F.explode(_bloom_positions(F.col("h1"), F.col("h2"))).alias("bit")
        )
        .distinct()
    )


def bloom_probe(
    docs: DataFrame,
    bench_bits: DataFrame,
    text_col: str = "text",
    n: int = 4,
) -> DataFrame:
    """Probe a corpus against a set-bit relation (``bloom_bits`` or a
    live sink store): one scan exploding each gram into K position
    probes, broadcast map-side join, count==K verdict — only the
    surviving probe hits shuffle, never corpus text."""

    def h1h2(shingle: Column) -> tuple[Column, Column]:
        return _bloom_h1h2(shingle)

    def positions(h1: Column, h2: Column) -> Column:
        return _bloom_positions(h1, h2)

    dsh = doc_shingles(spread_small_input(docs), text_col, n).select(
        "doc_id", *h1h2(F.col("shingle"))
    )
    probes = dsh.toDF("doc_id", "h1", "h2").select(
        "doc_id",
        F.col("h1").alias("sh_h"),  # h1 doubles as the gram identity
        F.explode(positions(F.col("h1"), F.col("h2"))).alias("bit"),
    )
    gram_hits = (
        probes.join(F.broadcast(bench_bits), "bit")
        .groupBy("doc_id", "sh_h")
        .agg(F.count("*").alias("k_hit"))
        .filter(F.col("k_hit") == BLOOM_K)
    )
    flagged = gram_hits.groupBy("doc_id").agg(F.count("*").alias("n_flagged"))
    # same small-input spread as decontaminate's sizes branch — the gram
    # rebuild is the expensive part, not the bloom probes
    sizes = spread_small_input(docs).select(
        F.col("doc_id"), F.split(F.col(text_col), " ").alias("__w")
    ).select(
        F.col("doc_id"),
        F.size(shingles_of_words(F.col("__w"), n)).cast("long").alias("n_grams"),
    )
    f4 = (
        F.floor(F.col("n_flagged").cast("double") / F.col("n_grams").cast("double") * 10000)
        .cast("long")
        .alias("flagged4")
    )
    return flagged.join(sizes, "doc_id").select("doc_id", "n_flagged", "n_grams", f4)


def positional_shingles(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, pos, shingle) with 0-based word positions — the
    POSITIONAL variant of ``doc_shingles`` (which dedupes): span-level
    reporting needs every occurrence and where it starts.  Words array
    materialized first (see ``shingles_of_words``)."""
    base = df.select(F.col("doc_id"), F.split(F.col(text_col), " ").alias("__w"))
    w = F.col("__w")
    idx = F.when(
        F.size(w) >= n, F.sequence(F.lit(1), F.size(w) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(w, i + j) for j in range(n)]),
    )
    return base.select(
        F.col("doc_id"), F.posexplode(grams).alias("pos", "shingle")
    )


def decontaminate_spans(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 4,
) -> DataFrame:
    """SPAN-LEVEL decontamination: not just WHICH training docs leak
    benchmark n-grams but WHERE — every (doc, word-position) at which a
    leaked gram starts, the form a surgical span-removal pass consumes
    (mask/cut the span instead of dropping the whole document, the Lee
    et al. 2022 dedup-then-train recipe applied to eval leakage).

    Same scale shape as ``decontaminate``: the benchmark collapses to a
    broadcast DISTINCT gram-hash set; the corpus side is one positional
    scan + a map-side semi join — the only shuffle-free difference from
    the doc-level sweep is that positions ride along, and nothing
    aggregates (output is one row per leaked occurrence).

    Output: (doc_id, pos, sh_h) ordered facts; pos is the 0-based word
    index where the leaked n-gram starts.
    """
    bench = (
        doc_shingles(benchmark, text_col, n)
        .select(h48(F.col("shingle")).alias("sh_h"))
        .distinct()
    )
    sp = positional_shingles(spread_small_input(docs), text_col, n).select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        h48(F.col("shingle")).alias("sh_h"),
    )
    return sp.join(F.broadcast(bench), "sh_h").select("doc_id", "pos", "sh_h")
