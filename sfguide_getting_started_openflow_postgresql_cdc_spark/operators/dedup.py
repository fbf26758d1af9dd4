"""Deduplication operators: exact, fingerprint, n-gram Jaccard,
MinHash+LSH, SimHash.

North-star extensions (no reference counterpart). All portable-hash
based: document hashes derive from md5 (identical hex in every engine),
MinHash signatures are lexicographic minima of fixed-width hex strings
(lexical min == numeric min), and SimHash uses the top 60 bits of md5 via
hex->integer conversion — so every operator has an exact DuckDB oracle.

Scale design:
- exact/fingerprint dedup: hash-groupBy, one shuffle on the hash — the
  100 TB workhorse.
- n-gram Jaccard (dd3) self-joins on shingles: EXACT over cap-filtered
  shingle sets (shingles appearing in more than SHINGLE_DOC_FREQ_CAP
  docs are dropped before the join and the size counts — the oracle
  caps identically); quadratic per surviving shingle, so it is the
  correctness baseline for the MinHash path, not the scale path. dd4
  verifies its candidates against the SAME capped sets, so dd4's pairs
  and jaccard values are always a subset of dd3's.
- MinHash+LSH (dd4): signatures are 8 per-doc aggregates (map-side
  combinable); candidate generation joins on (band, signature) buckets
  only, so work scales with collisions, not pairs. This is the operator
  to run at 100 TB; banding parameters (8 hashes, 4 bands x 2 rows)
  tune the similarity threshold ~ (1/b)^(1/r) ≈ 0.5.
- SimHash (dd5): one 60-bit signature per doc via a single groupBy;
  near-dup candidates differ in <= k bits (hamming join done downstream
  by banding the signature, same LSH idea).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sfguide_getting_started_openflow_postgresql_cdc_spark.cache import memo, release
from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.registry import query
from sfguide_getting_started_openflow_postgresql_cdc_spark.sources.loader import (
    load_table,
    spread_small,
)

N_MINHASH = 8
BAND_ROWS = 2  # 4 bands x 2 rows
JACCARD_THRESHOLD = 0.3
# dd3 drops shingles appearing in more than this many documents before
# its self-join: a shingle shared by k docs creates k^2/2 join rows, so
# one boilerplate phrase can dominate the whole stage. Non-discriminative
# shingles carry ~no near-dup signal (dd4's banding suppresses them the
# same way); the oracle applies the identical cap so parity is exact.
SHINGLE_DOC_FREQ_CAP = 50
SHINGLE_N = 3  # dd3/dd4 shingles are word 3-grams
SIMHASH_BITS = 60  # 15 hex digits of md5 -> fits a signed 64-bit int


def gram_rows(docs: DataFrame, n: int, out_col: str = "shingle") -> DataFrame:
    """(doc_id, <out_col>) word n-gram rows WITH multiplicity, built at
    array level: ONE ``split`` per document (kept in its own projection
    so codegen evaluates the regex once — an inline ``transform`` lambda
    would re-split per element, measured ~10x slower in r3), n shifted
    ``slice`` views zipped with ``arrays_zip``, then a single explode.

    r11 rewrite (guide §2.4 "remove shuffles outright") of the previous
    posexplode + lead()-window form: the window shuffled AND sorted the
    entire token stream on doc_id just to look n-1 tokens ahead, but
    adjacency inside one document never needs an exchange — grams are
    born partition-local here. Exact equivalence with the lead() form
    (same (doc_id, gram) multiset per document: slice i covers tokens
    [i, len-n+i], zipped positionally; empty/short docs yield zero
    grams via the greatest(len-n+1, 0) slice length). Measured 1.4x on
    the sf0.1 corpus AND one Exchange+Sort fewer in every consumer's
    plan — at 100 TB that exchange was a full-corpus token shuffle."""
    d = docs.select("doc_id", words().alias("_w"))
    ln = F.greatest(F.size(F.col("_w")) - (n - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(F.col("_w"), i + 1, ln) for i in range(n)])
    return d.select("doc_id", F.explode(z).alias("_t")).select(
        "doc_id",
        F.concat_ws(" ", *[F.col(f"_t.{i}") for i in range(n)]).alias(out_col),
    )


def words(text: str = "text"):
    """The word array n-grams are built from: ``text`` trimmed and split
    on whitespace runs."""
    return F.split(F.trim(F.col(text)), r"\s+")


def gram_rows_distinct(docs: DataFrame, n: int, out_col: str = "shingle") -> DataFrame:
    """DISTINCT (doc_id, <out_col>) word n-gram pairs with NO exchange
    at all (r12, guide §2.4). ``gram_rows(...).distinct()`` paid an
    ``Exchange hashpartitioning(doc_id, gram)`` over the full corpus
    gram stream just to drop within-document repeats — but every
    document's grams are born inside its single source row, so a
    per-doc ``array_distinct`` BEFORE the explode *is* the global
    distinct (doc_id is unique per input row). Exact same output set
    (``exceptAll`` both directions = 0 at sf0.1; 3.1x measured on the
    isolated build). The gram strings are assembled inside a
    ``transform`` lambda (interpreted per element, not codegen), which
    measures cheaper than shuffling the stream; the split still lives
    in its own projection so the regex runs once per document."""
    d = docs.select("doc_id", words().alias("_w"))
    ln = F.greatest(F.size(F.col("_w")) - (n - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(F.col("_w"), i + 1, ln) for i in range(n)])
    grams = F.transform(
        z, lambda t: F.concat_ws(" ", *[t[str(i)] for i in range(n)])
    )
    return d.select(
        "doc_id", F.explode(F.array_distinct(grams)).alias(out_col)
    )


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) distinct 3-gram pairs — shared by dd3/dd4.

    See :func:`gram_rows_distinct` for the exchange-free construction
    (r12; the r11 form was ``gram_rows(...).distinct()``).
    """
    # the documents table is a single small file -> one scan task; spread
    # the (cheap) rows across the cluster BEFORE the expensive explode so
    # tokenization parallelizes. GUARDED: at 100 TB the source arrives
    # already split, and spread_small skips the exchange entirely.
    docs = spread_small(load_table(spark, sf_dir, "documents"))
    return gram_rows_distinct(docs, SHINGLE_N)


# SQL twin of _doc_shingles for the oracles (DuckDB)
_SH_SQL = """
    sh AS (
      SELECT DISTINCT doc_id,
             w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS shingle
      FROM (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w,
               unnest(range(greatest(len(string_split_regex(trim(text), '\\s+')) - 2, 0)))
                   AS i
        FROM documents
      )
    )
"""


@query(
    "dd1_exact_dedup",
    oracle="""
    SELECT MIN(doc_id) AS canonical_doc_id, COUNT(*) AS n_copies
    FROM documents GROUP BY text
    """,
)
def dd1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one canonical row (lowest id) per identical text.
    Groups on (md5(text), length(text)) so the shuffle exchange carries
    a 32-char hash + an int instead of the full document body — same
    answer (the oracle groups by raw text), hash-width network cost at
    corpus scale. The length term means a divergence from the oracle
    would need a same-length md5 collision."""
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("_fp"), F.length("text").alias("_len"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .select("canonical_doc_id", "n_copies")
    )


@query(
    "dd2_fingerprint_stats",
    oracle=r"""
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))))
               AS n_unique,
           COUNT(*) - COUNT(DISTINCT
               md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))))
               AS n_duplicates
    FROM documents
    """,
)
def dd2_fingerprint_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level dup statistics over normalized fingerprints — the
    cheap first-pass report before any pairwise work."""
    # local import: keeps registry REGISTRATION order decoupled from this
    # module's dependency order (operators/__init__ docstring)
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.text import (
        fingerprint,
    )

    docs = load_table(spark, sf_dir, "documents")
    fp = fingerprint(F.col("text"))
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(fp).alias("n_unique"),
        (F.count("*") - F.countDistinct(fp)).alias("n_duplicates"),
    )


@query(
    "dd3_ngram_jaccard_pairs",
    oracle=f"""
    WITH {_SH_SQL},
    capped AS (
      SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle,
               COUNT(*) OVER (PARTITION BY shingle) AS df
        FROM sh
      ) WHERE df <= {SHINGLE_DOC_FREQ_CAP}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM capped a JOIN capped b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= {JACCARD_THRESHOLD}
    """,
)
def dd3_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs by word-3-gram Jaccard >= threshold — the
    ground truth the MinHash path approximates. Self-join on shingle is
    exact but quadratic per hot shingle, so shingles appearing in more
    than SHINGLE_DOC_FREQ_CAP docs are dropped BEFORE the join (both
    from the intersection and the per-doc sizes — the oracle caps
    identically). That bounds any shingle's join fan-out at CAP^2/2;
    use dd4 at scale."""
    raw = _doc_shingles(spark, sf_dir)
    # doc-frequency via a window on the same shuffle key the join needs
    dfreq = F.count("*").over(Window.partitionBy("shingle"))
    # attach each doc's capped-set SIZE to every shingle row before the
    # self-join (a second window, keyed like the sizes groupBy would
    # be): the verify then needs NO sizes join at all — min() over the
    # pair group reproduces |A| and |B| exactly, since every row of a
    # group carries the same n. The previous shape broadcast a
    # one-row-PER-CORPUS-DOC sizes frame twice (executor OOM at
    # billion-doc scale — r8 verdict); now nothing corpus-cardinality
    # is ever broadcast and two joins disappear from the plan.
    nsize = F.count("*").over(Window.partitionBy("doc_id"))
    sh = (
        raw.withColumn("_df", dfreq)
        .filter(F.col("_df") <= SHINGLE_DOC_FREQ_CAP)
        .drop("_df")
        .withColumn("n", nsize)
        .persist()  # both sides of the self-join
    )
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.count("*").alias("n_shared"),
            F.min(F.col("a.n")).alias("na"),
            F.min(F.col("b.n")).alias("nb"),
        )
    )
    jac = F.col("n_shared").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_shared")
    )
    return (
        inter.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def _minhash_sig_cols() -> list[Column]:
    """MinHash signature: for seed i, the lexicographic min of
    md5(i|shingle) prefixes. Fixed-width lowercase hex -> lexical min is
    numeric min, portable across engines."""
    return [
        F.min(F.substring(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle"))), 1, 16)).alias(
            f"mh{i}"
        )
        for i in range(N_MINHASH)
    ]


def _minhash_sql_sig() -> str:
    return ",\n             ".join(
        f"MIN(substr(md5('{i}|' || shingle), 1, 16)) AS mh{i}"
        for i in range(N_MINHASH)
    )


def _band_exprs() -> list[tuple[str, Column]]:
    bands = []
    for bidx in range(0, N_MINHASH, BAND_ROWS):
        cols = [F.col(f"mh{i}") for i in range(bidx, bidx + BAND_ROWS)]
        bands.append((f"band{bidx // BAND_ROWS}", F.concat(*cols)))
    return bands


def _dd4_shingle_cache(spark: SparkSession, sf_dir: str):
    """Memoized persisted (full, capped) shingle sets for dd4 and its
    composers (dd7/px6), one per (session, sf_dir) in the session memo
    registry (``cache.py``)."""

    def build():
        sh = _doc_shingles(spark, sf_dir)
        # hot shingles are FEW by definition (df > CAP needs CAP+ docs each),
        # so drop them via a broadcast anti-join — map-side, no extra shuffle
        # (dd3 uses a window because its self-join reuses the shingle
        # partitioning; dd4's verification joins are keyed by doc_id, so a
        # shingle-partitioned exchange would buy nothing here)
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > SHINGLE_DOC_FREQ_CAP)
            .select("shingle")
        )
        # each capped row carries its doc's capped-set SIZE (one window,
        # persisted with the rows): the verify step of every consumer
        # (dd4/dd10/px12) can then take min(n) inside its pair aggregate
        # instead of joining a corpus-cardinality sizes frame — the r8
        # verdict's scale-killer was broadcasting that frame
        capped = (
            sh.join(F.broadcast(hot), on="shingle", how="left_anti")
            .withColumn("n", F.count("*").over(Window.partitionBy("doc_id")))
        )
        return sh, capped  # persisted in this order: capped reads sh's cache

    return memo(spark, "dd4_shingles", sf_dir, build)


def _dd4_pairs_cache(spark: SparkSession, sf_dir: str):
    """Memoized persisted dd4 VERIFIED PAIRS — the shared upstream
    artifact of the composing operators (dd7's components, px6's
    curation): a real pipeline materializes the pair list once and
    fans out, so the composers consume one persisted frame instead of
    re-running signatures+banding+verification per query.
    dd4_minhash_lsh_pairs itself stays UNCACHED — its own timing keeps
    measuring the operator, not a lookup. That requires persisting the
    (doc_a, doc_b) PROJECTION, not the full dd4 output: Spark's
    CacheManager substitutes a persisted frame into ANY query whose
    analyzed plan contains it as a subtree, and dd4's standalone
    3-column plan would match a persisted full-output frame (measured:
    dd4's bench min silently became a 0.5 s cache hit). The 2-column
    project never occurs inside dd4's own plan, so only the composers
    (which need exactly these columns) reuse it. Kept in the session
    memo registry (``cache.py``; at cluster scale: checkpoint to
    storage)."""
    return memo(
        spark,
        "dd4_pairs",
        sf_dir,
        lambda: dd4_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b"),
    )


clear_dedup_cache = release  # the historical name of cache.release


@query(
    "dd4_minhash_lsh_pairs",
    oracle=f"""
    WITH {_SH_SQL},
    sig AS (
      SELECT doc_id,
             {_minhash_sql_sig()}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {" UNION ALL ".join(
          f"SELECT doc_id, {b} AS band_id, mh{b * BAND_ROWS} || mh{b * BAND_ROWS + 1} AS sig FROM sig"
          for b in range(N_MINHASH // BAND_ROWS)
      )}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    capped AS (
      SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle,
               COUNT(*) OVER (PARTITION BY shingle) AS df
        FROM sh
      ) WHERE df <= {SHINGLE_DOC_FREQ_CAP}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_shared
      FROM cand c
      JOIN capped a ON a.doc_id = c.doc_a
      JOIN capped b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_shared AS DOUBLE) / (sa.n + sb.n - i.n_shared) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_shared AS DOUBLE) / (sa.n + sb.n - i.n_shared)
          >= {JACCARD_THRESHOLD}
    """,
)
def dd4_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection — the 100 TB scale path.

    shingle -> 8 minhashes + set size (ONE groupBy, map-side combinable)
    -> 4 bands of 2 -> bucket join on (band, signature) -> verify
    candidates with exact Jaccard. Only bucket-colliding pairs are ever
    joined, so cost tracks true near-dups instead of all pairs.

    Signatures are computed over the FULL shingle sets (banding already
    suppresses hot shingles statistically), but verification — sizes and
    intersections — uses the same doc-frequency-capped sets as dd3, so
    every emitted (pair, jaccard) is exactly what dd3 would report and
    the lsh-subset-of-exact invariant holds even when the cap bites.

    The shingle set feeds the signature pass and both sides of the
    verification join; it is persisted ONCE per (session, sf_dir) via a
    memo (``cache.py``; ``release`` frees it) so the explode+distinct
    shuffle runs once even when dd7/dd8/px6 re-invoke dd4 in the same
    session (at cluster scale: checkpoint to storage instead).
    """
    sh, capped = _dd4_shingle_cache(spark, sf_dir)
    sig = sh.groupBy("doc_id").agg(*_minhash_sig_cols())
    bands = None
    for name, expr in _band_exprs():
        part = sig.select(
            "doc_id", F.lit(name).alias("band_id"), expr.alias("sig")
        )
        bands = part if bands is None else bands.unionByName(part)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # verify candidates with exact jaccard over the CAPPED sets
    # (candidates are few; dd3-parity requires the capped sets). Each
    # capped row carries its doc's set size (memoized window), so |A|
    # and |B| ride the verify joins and min() inside the pair aggregate
    # reproduces them exactly — NO sizes join, and nothing
    # corpus-cardinality is ever broadcast (the r8 verdict's
    # scale-killer was broadcasting a one-row-per-corpus-doc sizes
    # frame here; at billions of docs that OOMs the executors)
    sha, shb = capped.alias("sha"), capped.alias("shb")
    inter = (
        cand.join(sha, F.col("sha.doc_id") == F.col("doc_a"))
        .join(
            shb,
            (F.col("shb.doc_id") == F.col("doc_b"))
            & (F.col("shb.shingle") == F.col("sha.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").alias("n_shared"),
            F.min(F.col("sha.n")).alias("na"),
            F.min(F.col("shb.n")).alias("nb"),
        )
    )
    jac = F.col("n_shared").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_shared")
    )
    return (
        inter.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


COSINE_DUP_THRESHOLD = 0.5


def _dd6_oracle() -> str:
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.similarity import (
        banded_sql_cte,
    )

    return f"""
    WITH {banded_sql_cte()},
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM banded a
      JOIN banded b ON a.band_id = b.band_id AND a.bucket = b.bucket
                   AND a.vec_id < b.vec_id
    )
    SELECT cand.vec_a, cand.vec_b,
           list_cosine_similarity(x.embedding::DOUBLE[],
                                  y.embedding::DOUBLE[]) AS similarity
    FROM cand
    JOIN embeddings x ON x.vec_id = cand.vec_a
    JOIN embeddings y ON y.vec_id = cand.vec_b
    WHERE list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[])
          >= {COSINE_DUP_THRESHOLD}
    """


@query("dd6_embedding_cosine_dups", oracle=_dd6_oracle())
def dd6_embedding_cosine_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (semantic dedup), bucketed: LSH
    band candidates -> exact-cosine verify, the dd4 candidate->verify
    shape applied to vectors. NO all-pairs join anywhere in the plan —
    the band self-join shuffles (vec_id, band_id, bucket) rows and is
    quadratic only within a bucket (bounded by bucket size; raise
    BAND_BITS at scale). The all-pairs exact computation survives as
    :func:`embedding_cosine_allpairs`, the recall ground truth in tests —
    run it at 100 TB and the cluster dies; that is dd6's whole point.

    Shares planes/bands with sim2 (operators/similarity.py), and the
    oracle buckets with the identical plane literals, so the driver gate
    checks candidate generation AND verification exactly.

    NOTE: the 2-bit band geometry here is PINNED for oracle parity and
    goes quadratic as the corpus grows (BASELINE.md records 25x at 10x
    vectors). The production entry point is
    ``operators.ann_auto.embedding_dup_pairs`` (corpus-adaptive
    geometry, driver-checked as ``dd16_embedding_dups_auto``);
    ``dd6_embedding_cosine_dups_scaled`` is the occupancy-constant
    pinned twin."""
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.similarity import (
        _band_planes,
        arrow_band_buckets,
        arrow_dot,
        arrow_norm,
    )

    planes = _band_planes()
    emb = load_table(spark, sf_dir, "embeddings")
    banded = emb.select(
        "vec_id",
        F.posexplode(arrow_band_buckets(F.col("embedding"), planes)).alias(
            "band_id", "bucket"
        ),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    # verify: fetch both embeddings (shuffle join on vec_id — candidates
    # only, not pairs) and keep exact cosine >= threshold. Norms hoisted
    # per-vector: bit-identical, one fold per pair instead of three.
    x = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        arrow_norm(F.col("embedding")).alias("na"),
    )
    y = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        arrow_norm(F.col("embedding")).alias("nb"),
    )
    sim = arrow_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        cand.join(x, "vec_a")
        .join(y, "vec_b")
        .select("vec_a", "vec_b", sim.alias("similarity"))
        .filter(F.col("similarity") >= COSINE_DUP_THRESHOLD)
        .select("vec_a", "vec_b", "similarity")
    )


def _dd6_scaled_oracle() -> str:
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.similarity import (
        dd6_scaled_banded_sql_cte,
    )

    return f"""
    WITH {dd6_scaled_banded_sql_cte()},
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM banded a
      JOIN banded b ON a.band_id = b.band_id AND a.bucket = b.bucket
                   AND a.vec_id < b.vec_id
    )
    SELECT cand.vec_a, cand.vec_b,
           list_cosine_similarity(x.embedding::DOUBLE[],
                                  y.embedding::DOUBLE[]) AS similarity
    FROM cand
    JOIN embeddings x ON x.vec_id = cand.vec_a
    JOIN embeddings y ON y.vec_id = cand.vec_b
    WHERE list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[])
          >= {COSINE_DUP_THRESHOLD}
    """


@query("dd6_embedding_cosine_dups_scaled", oracle=_dd6_scaled_oracle())
def dd6_embedding_cosine_dups_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd6 under a CORPUS-SCALED band geometry (12 bands x 5 bits = 32
    buckets/band): identical candidate->verify semantics, but bucket
    occupancy — and therefore the quadratic within-bucket candidate
    join — stays constant as the corpus grows 10x, where dd6's pinned
    2-bit bands measured 25x at 10x vectors (BASELINE.md §similarity;
    tools/scale_check.py measures both). Unlike sim10's 4x6 config,
    the band COUNT is raised 4 -> 12 so OR-amplification restores the
    recall the extra bits cost (1-(1-p^5)^12 vs 1-(1-p^2)^4): rows-per-
    band r is set by the threshold to hold occupancy O(1), band count b
    is then set by target recall, and candidate cost grows linearly in
    b, never quadratically in corpus. Plane literals are embedded in
    the oracle CTE, so the driver gate checks candidate generation AND
    exact-cosine verification end-to-end."""
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.similarity import (
        DD6_SCALED_BAND_BITS,
        DD6_SCALED_N_BANDS,
        arrow_band_buckets_param,
        arrow_dot,
        arrow_norm,
        dd6_scaled_planes,
    )

    planes = dd6_scaled_planes()
    emb = load_table(spark, sf_dir, "embeddings")
    banded = emb.select(
        "vec_id",
        F.posexplode(
            arrow_band_buckets_param(
                F.col("embedding"), planes, DD6_SCALED_N_BANDS, DD6_SCALED_BAND_BITS
            )
        ).alias("band_id", "bucket"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    x = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        arrow_norm(F.col("embedding")).alias("na"),
    )
    y = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        arrow_norm(F.col("embedding")).alias("nb"),
    )
    sim = arrow_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        cand.join(x, "vec_a")
        .join(y, "vec_b")
        .select("vec_a", "vec_b", sim.alias("similarity"))
        .filter(F.col("similarity") >= COSINE_DUP_THRESHOLD)
        .select("vec_a", "vec_b", "similarity")
    )


def embedding_cosine_allpairs(
    spark: SparkSession, sf_dir: str, threshold: float = COSINE_DUP_THRESHOLD
) -> DataFrame:
    """Exact all-pairs cosine near-dup pairs — O(n^2), the recall ground
    truth for dd6 in tests. NOT a registered query: its range-condition
    self-join is a cross product that cannot run at cluster scale."""
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.similarity import (
        dot,
        norm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        norm(F.col("embedding")).alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        norm(F.col("embedding")).alias("nb"),
    )
    sim = dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, a.vec_a < b.vec_b)
        .select("vec_a", "vec_b", sim.alias("similarity"))
        .filter(F.col("similarity") >= threshold)
    )


def _simhash_sql() -> str:
    bit_terms = " + ".join(
        f"(CASE WHEN SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(SIMHASH_BITS)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents WHERE length(trim(text)) > 0
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substr(md5(word), 1, 15))::BIGINT AS h FROM tok
    )
    SELECT doc_id, {bit_terms} AS simhash
    FROM hashed GROUP BY doc_id
    """


@query("dd5_simhash", oracle=_simhash_sql())
def dd5_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: 60-bit locality-sensitive signature per document (token
    hashes majority-voted per bit). One groupBy per corpus; near-dup =
    small hamming distance, joined downstream by banding the signature.
    Portable bits: top 15 hex digits of md5 -> integer."""
    docs = spread_small(  # parallel explode; no-op when already split
        load_table(spark, sf_dir, "documents").filter(
            F.length(F.trim(F.col("text"))) > 0
        )
    )
    tok = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
    )
    hashed = tok.select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("word")), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    # Branch-free bit votes, LANE-PACKED: 3 bit-counters of 21 bits share
    # one 64-bit sum (lane sums accumulate independently as long as no
    # lane overflows into the next — safe for docs up to 2^21 ≈ 2M tokens,
    # far beyond any training document after chunking). 20 agg buffers
    # instead of 60 halves the hash-aggregate update cost (measured 2x);
    # majority test 2*ones > n on the unpacked lane equals
    # (ones - zeros) > 0.
    lanes = 3
    lane_bits = 21
    lane_mask = (1 << lane_bits) - 1
    packed = []
    for g in range(SIMHASH_BITS // lanes):
        expr = None
        for lane in range(lanes):
            i = g * lanes + lane
            term = F.shiftleft(
                F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)), lane_bits * lane
            )
            expr = term if expr is None else expr + term
        packed.append(F.sum(expr).alias(f"p{g}"))
    votes = hashed.groupBy("doc_id").agg(F.count("*").alias("n"), *packed)
    sim = None
    for i in range(SIMHASH_BITS):
        ones = F.shiftright(F.col(f"p{i // lanes}"), lane_bits * (i % lanes)).bitwiseAND(
            F.lit(lane_mask)
        )
        term = F.when(2 * ones > F.col("n"), F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim = term if sim is None else sim + term
    return votes.select("doc_id", sim.alias("simhash"))


def _dd7_oracle() -> str:
    # reuse dd4's full candidate->verify SQL as a CTE, then take the
    # transitive closure with a recursive CTE (set-semantics UNION
    # terminates); canonical = min doc_id reachable, size = |component|
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.registry import (
        ORACLES,
    )

    dd4_sql = ORACLES["dd4_minhash_lsh_pairs"]
    return f"""
    WITH RECURSIVE pairs AS ({dd4_sql}),
    nodes AS (
      SELECT doc_a AS node FROM pairs UNION SELECT doc_b FROM pairs
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id,
           MIN(dst) AS canonical_doc_id,
           COUNT(DISTINCT dst) AS component_size
    FROM reach GROUP BY src
    """


@query("dd7_dedup_groups", oracle=_dd7_oracle())
def dd7_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: connected components over the dd4 MinHash
    pair graph -> one canonical document (min doc_id) per group plus the
    group size — the step that turns pairwise dedup output into a
    keep/drop decision for a training corpus.

    Hook + pointer-doubling label propagation: every node starts labeled
    with itself; each round hooks the min of its own and its neighbors'
    labels, then compresses label->label-of-label, so even a pathological
    template-spam CHAIN of diameter d converges in O(log d) rounds — and
    the loop runs to full convergence (a logic-bug guard raises rather
    than ever emitting truncated group ids). Each round is two joins +
    one groupBy keyed on the node — the standard large-graph CC recipe at
    100 TB. The driver-side loop collects only a 1-row change count per
    round; data never leaves the cluster.

    Oracle: DuckDB recursive-CTE transitive closure over the same pairs
    (fine at test scale; the label-propagation plan is the one that
    scales).
    """
    pairs = _dd4_pairs_cache(spark, sf_dir)
    return _connected_components(pairs, "doc_a", "doc_b", out_id="doc_id")


def _connected_components(
    pairs, a: str, b: str, out_id: str = "doc_id", max_rounds: int = 60
):
    """Exact connected components over an undirected pair graph ->
    (out_id, canonical_<out_id>, component_size).

    Shiloach-Vishkin-style HOOK + pointer-doubling COMPRESS per round:
    hook takes the min of a node's own and its neighbors' labels (one
    join + one groupBy keyed on the node); compress then rewrites each
    label to its label's label (one self-join), which DOUBLES the
    distance a min has travelled — so a chain of diameter d converges in
    O(log d) rounds, not O(d). Labels are monotonically non-increasing
    and always in-component node ids, so the changed==0 fixed point is
    exactly "every node labeled with its component minimum".

    Runs to FULL convergence — there is no silent truncation cap. The
    ``max_rounds`` guard (60 ~ diameter 2^60, unreachable) exists only
    to turn a logic bug into a loud RuntimeError instead of an infinite
    loop: wrong group ids are never emitted. Each round localCheckpoints
    the new labels, truncating lineage so round count never deepens the
    plan; the driver collects only a 1-row change count per round.

    r11 (guide §1.2 "don't compute things you throw away" / §5): the
    per-round localCheckpoint is LAZY — the convergence-check aggregate
    is the action that materializes it, so each round runs ONE Spark job
    (join+compress+checkpoint+sum fused) instead of two (an eager
    checkpoint job followed by a separate sum job). Halves the per-round
    scheduling floor; identical labels, identical convergence."""
    # r12 (VERDICT r11 item 9, guide §5): when the incoming pairs frame
    # is ALREADY persisted (dd7/px6 consume the shared dd4 pairs memo),
    # persisting the mirrored union again would cache a 2x copy of the
    # same rows — each round's hook join instead reads the pairs cache
    # twice (two in-memory scans of a tiny frame). Uncached inputs
    # (dd8/dd11/dd13/px15 derive pairs inline) keep the persist so the
    # pair derivation never re-runs per round.
    _input_cached = pairs.storageLevel.useMemory or pairs.storageLevel.useDisk
    edges = pairs.unionByName(
        pairs.select(F.col(b).alias(a), F.col(a).alias(b))
    )
    if not _input_cached:
        edges.persist()
    labels = (
        edges.select(F.col(a).alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)
    )

    def label_sum(df) -> int:
        # labels only ever DECREASE (hook takes a min including the own
        # label; compress maps through an already-min'd table), so an
        # unchanged per-round SUM proves no label moved — one map-side
        # aggregate instead of a compare-join per round. decimal(38,0):
        # exact at any node count / id width.
        row = df.agg(F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0]
        return row[0] or 0

    prev_sum = label_sum(labels)
    for _ in range(max_rounds):
        nbr = (  # hook: min over own + neighbors' labels
            edges.join(labels, edges[b] == labels.node)
            .groupBy(a)
            .agg(F.min("label").alias("nbr_min"))
        )
        hooked = labels.join(nbr, labels.node == nbr[a], "left").select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))
            ).alias("label"),
        )
        # compress (pointer doubling): label <- label-of-label. Every
        # label is a node id, so the inner self-join is total.
        compressed = (
            hooked.alias("x")
            .join(hooked.alias("y"), F.col("x.label") == F.col("y.node"))
            .select(F.col("x.node").alias("node"), F.col("y.label").alias("label"))
            .localCheckpoint(eager=False)  # materialized by label_sum below
        )
        cur_sum = label_sum(compressed)
        labels = compressed
        if cur_sum == prev_sum:
            if not _input_cached:
                edges.unpersist()  # labels materialized; edges unread now
            sizes = labels.groupBy("label").agg(
                F.count("*").alias("component_size")
            )
            return labels.join(sizes, "label").select(
                F.col("node").alias(out_id),
                F.col("label").alias(f"canonical_{out_id}"),
                "component_size",
            )
        prev_sum = cur_sum
    raise RuntimeError(
        f"_connected_components failed to converge in {max_rounds} rounds; "
        "doubling convergence makes this unreachable for any real graph — "
        "refusing to emit possibly-wrong group ids"
    )


def _dd8_oracle() -> str:
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.registry import (
        ORACLES,
    )

    dd6_sql = ORACLES["dd6_embedding_cosine_dups"]
    return f"""
    WITH RECURSIVE pairs AS ({dd6_sql}),
    nodes AS (
      SELECT vec_a AS node FROM pairs UNION SELECT vec_b FROM pairs
    ),
    edges AS (
      SELECT vec_a AS src, vec_b AS dst FROM pairs
      UNION SELECT vec_b, vec_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS vec_id,
           MIN(dst) AS canonical_vec_id,
           COUNT(DISTINCT dst) AS component_size
    FROM reach GROUP BY src
    """


@query("dd8_semantic_dedup_groups", oracle=_dd8_oracle())
def dd8_semantic_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup clustering: connected components over the dd6
    embedding-cosine near-dup graph — dd7's keep/drop clustering applied
    to meaning-level duplicates instead of MinHash textual ones. Same
    label-propagation engine, same recursive-CTE oracle shape; at 100 TB
    the component step costs O(rounds) key-shuffles over only the PAIRED
    vectors (non-duplicates never enter the graph)."""
    pairs = dd6_embedding_cosine_dups(spark, sf_dir).select("vec_a", "vec_b")
    return _connected_components(pairs, "vec_a", "vec_b", out_id="vec_id")


def _px6_oracle() -> str:
    # dd7's transitive-closure CTE over dd4 pairs, extended with the
    # keep/drop decision joined back to the corpus
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.registry import (
        ORACLES,
    )

    dd4_sql = ORACLES["dd4_minhash_lsh_pairs"]
    return f"""
    WITH RECURSIVE pairs AS ({dd4_sql}),
    nodes AS (
      SELECT doc_a AS node FROM pairs UNION SELECT doc_b FROM pairs
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    canon AS (SELECT src AS doc_id, MIN(dst) AS canonical FROM reach GROUP BY src),
    decided AS (
      SELECT d.lang,
             CASE WHEN length(trim(d.text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(d.text), '\\s+')) END
                 AS n_tokens,
             COALESCE(c.canonical, d.doc_id) = d.doc_id AS keep
      FROM documents d LEFT JOIN canon c ON c.doc_id = d.doc_id
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT)
               AS tokens_kept
    FROM decided GROUP BY lang
    """


@query("px6_neardup_aware_curation", oracle=_px6_oracle())
def px6_neardup_aware_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup-aware corpus curation: px1 drops only byte-identical
    copies; this keeps exactly ONE representative (the canonical min
    doc_id) per dd7 near-dup cluster and reports the per-language
    keep/drop and retained-token budget — the last step that turns
    pairwise similarity output into a training-set manifest.

    Composition, not new machinery: dd4 (banded candidates -> capped
    verify) -> dd7 (min-label-propagation components) -> one broadcast
    left join back to the corpus (the cluster table only holds docs that
    appear in some near-dup pair — tiny next to the corpus) -> one
    groupBy(lang). Every stage is the scale path of its family."""
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.text import (
        token_count,
    )

    groups = dd7_dedup_groups(spark, sf_dir).select("doc_id", "canonical_doc_id")
    docs = load_table(spark, sf_dir, "documents")
    joined = docs.join(F.broadcast(groups), on="doc_id", how="left")
    keep = (
        F.coalesce(F.col("canonical_doc_id"), F.col("doc_id")) == F.col("doc_id")
    )
    return (
        joined.select(
            "lang",
            token_count(F.col("text")).alias("n_tokens"),
            keep.alias("keep"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(F.col("keep"), 0).otherwise(1)).alias("n_dropped"),
            F.sum(F.when(F.col("keep"), F.col("n_tokens")).otherwise(0)).alias(
                "tokens_kept"
            ),
        )
    )


DUP_NGRAM_N = 5


def _gram5_sql() -> str:
    words = " || ' ' || ".join(f"w[i+{k}]" for k in range(1, DUP_NGRAM_N + 1))
    return f"""
    g AS (
      SELECT doc_id, {words} AS gram
      FROM (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w,
               unnest(range(greatest(len(string_split_regex(trim(text), '\\s+'))
                                     - {DUP_NGRAM_N - 1}, 0))) AS i
        FROM documents
      )
    )
    """


@query(
    "dd9_crossdoc_ngram_stats",
    oracle=f"""
    WITH {_gram5_sql()},
    shared AS (
      SELECT gram FROM (
        SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY gram
      ) WHERE nd > 1
    )
    SELECT doc_id,
           COUNT(*) AS n_grams,
           COUNT(*) FILTER (WHERE gram IN (SELECT gram FROM shared))
               AS n_shared_grams,
           CAST(COUNT(*) FILTER (WHERE gram IN (SELECT gram FROM shared))
                AS DOUBLE) / COUNT(*) AS shared_fraction
    FROM g GROUP BY doc_id
    """,
)
def dd9_crossdoc_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING dedup signal (the Lee-et-al "Deduplicating
    Training Data" recipe, measured at {DUP_NGRAM_N}-gram granularity):
    per document, how many of its word-{DUP_NGRAM_N}-gram instances also
    occur in ANOTHER document — the per-doc score a substring-dedup pass
    thresholds on before cutting spans. Pipeline: one explode (grams
    with multiplicity), a distinct-doc count per gram (map-side
    combinable) keeps only grams seen in >= 2 docs, a semi-join marks
    shared instances, one per-doc aggregate. Two shuffles — gram, then
    doc_id; cost tracks corpus size and true overlap, never pairs."""
    docs = spread_small(load_table(spark, sf_dir, "documents"))
    # r11: shuffle-free array-level gram build (see gram_rows) — the
    # lead()-window form paid a full token-stream Exchange+Sort here.
    # r11 second fix (guide §2.4): the old shared-grams SELF-JOIN
    # computed the whole explode+aggregate subtree twice (no exchange
    # reuse across join sides); per-(doc, gram) counts + one gram-keyed
    # window produce the same per-doc totals in a single pass — a gram
    # is shared iff its (doc, gram)-distinct row count exceeds 1.
    grams = gram_rows(docs, DUP_NGRAM_N, out_col="gram")
    per = grams.groupBy("doc_id", "gram").agg(F.count("*").alias("cnt"))
    nd = F.count("*").over(Window.partitionBy("gram"))
    marked = per.withColumn("nd", nd)
    shared_cnt = F.sum(F.when(F.col("nd") > 1, F.col("cnt")).otherwise(0))
    total_cnt = F.sum("cnt")
    return marked.groupBy("doc_id").agg(
        total_cnt.alias("n_grams"),
        shared_cnt.alias("n_shared_grams"),
        (shared_cnt.cast("double") / total_cnt).alias("shared_fraction"),
    )


CONTAINMENT_THRESHOLD = 0.75


@query(
    "dd10_containment_pairs",
    oracle=f"""
    WITH {_SH_SQL},
    capped AS (
      SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle,
               COUNT(*) OVER (PARTITION BY shingle) AS df
        FROM sh
      ) WHERE df <= {SHINGLE_DOC_FREQ_CAP}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM capped a JOIN capped b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_shared AS DOUBLE) / sa.n AS containment_a,
           CAST(n_shared AS DOUBLE) / sb.n AS containment_b
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE greatest(CAST(n_shared AS DOUBLE) / sa.n,
                   CAST(n_shared AS DOUBLE) / sb.n)
          >= {CONTAINMENT_THRESHOLD}
    """,
)
def dd10_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment detection: |A∩B| / |A| per direction —
    the signal Jaccard misses when a SHORT document is wholly quoted
    inside a LONG one (jaccard stays low because the union is large;
    containment of the short side hits 1.0). The quote/subset-dedup
    primitive for training corpora. Same capped-shingle machinery and
    scale posture as dd3 (exact ground-truth engine; at corpus scale
    candidates come from dd4's banding and verification switches to
    this directional ratio). Shares dd4's memoized capped shingle set,
    so composing it with the other dedup operators costs one shuffle,
    not a re-explode."""
    _, capped = _dd4_shingle_cache(spark, sf_dir)
    # each (cached) capped row carries its doc's capped-set size (the
    # memo's window), so the directional ratios ride the self-join and
    # need no sizes join — and no corpus-cardinality broadcast (r8
    # verdict: the old shape broadcast a one-row-per-corpus-doc frame)
    a, b = capped.alias("a"), capped.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.count("*").alias("n_shared"),
            F.min(F.col("a.n")).alias("na"),
            F.min(F.col("b.n")).alias("nb"),
        )
    )
    c_a = F.col("n_shared").cast("double") / F.col("na")
    c_b = F.col("n_shared").cast("double") / F.col("nb")
    return (
        inter.select(
            "doc_a",
            "doc_b",
            c_a.alias("containment_a"),
            c_b.alias("containment_b"),
        )
        .filter(
            F.greatest(F.col("containment_a"), F.col("containment_b"))
            >= CONTAINMENT_THRESHOLD
        )
    )


DECONTAM_OVERLAP = 0.2  # fraction of a train doc's grams seen in any benchmark doc


@query(
    "px8_ngram_decontamination",
    oracle=f"""
    WITH {_SH_SQL},
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 100 < 2),
    train AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 100 >= 2),
    scored AS (
      SELECT t.doc_id,
             COUNT(*) AS n_grams,
             COUNT(*) FILTER (WHERE t.shingle IN (SELECT shingle FROM bench))
                 AS n_overlap
      FROM train t GROUP BY t.doc_id
    )
    SELECT doc_id, n_grams, n_overlap,
           CAST(n_overlap AS DOUBLE) / n_grams AS overlap_fraction,
           CAST(n_overlap AS DOUBLE) / n_grams >= {DECONTAM_OVERLAP}
               AS contaminated
    FROM scored
    """,
)
def px8_ngram_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVAL DECONTAMINATION by n-gram overlap — the published recipe
    (GPT-3 appendix C / Llama eval hygiene): a training document is
    contaminated when >= {DECONTAM_OVERLAP:.0%} of its distinct word
    n-grams appear in ANY benchmark document. px4 catches byte-identical
    leaks; this catches paraphrased/partial ones. Benchmark set here =
    the deterministic doc_id%100<2 slice (stand-in for a real eval
    suite). Plan: the benchmark's distinct grams (small by construction)
    broadcast into a map-side overlap mark on the train grams; one
    per-doc aggregate. At 100 TB the benchmark side stays broadcastable
    (eval suites are tiny) so the 100 TB train side never shuffles on
    gram — the property that makes this runnable per training dump."""
    sh, _ = _dd4_shingle_cache(spark, sf_dir)
    bench = (
        sh.filter(F.col("doc_id") % 100 < 2).select("shingle").distinct()
    )
    train = sh.filter(F.col("doc_id") % 100 >= 2)
    marked = train.join(
        F.broadcast(bench.withColumn("_hit", F.lit(1))), "shingle", "left"
    )
    frac = F.count("_hit").cast("double") / F.count("*")
    return marked.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.count("_hit").alias("n_overlap"),
        frac.alias("overlap_fraction"),
        (frac >= DECONTAM_OVERLAP).alias("contaminated"),
    )


def _px12_bands_sql() -> str:
    return " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, "
        f"mh{b * BAND_ROWS} || mh{b * BAND_ROWS + 1} AS sig FROM sig"
        for b in range(N_MINHASH // BAND_ROWS)
    )


@query(
    "px12_neardup_decontamination",
    oracle=f"""
    WITH {_SH_SQL},
    sig AS (
      SELECT doc_id,
             {_minhash_sql_sig()}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {_px12_bands_sql()}
    ),
    cand AS (
      SELECT DISTINCT t.doc_id AS train_doc, e.doc_id AS bench_doc
      FROM bands t JOIN bands e
        ON t.band_id = e.band_id AND t.sig = e.sig
      WHERE t.doc_id % 100 >= 2 AND e.doc_id % 100 < 2
    ),
    capped AS (
      SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle,
               COUNT(*) OVER (PARTITION BY shingle) AS df
        FROM sh
      ) WHERE df <= {SHINGLE_DOC_FREQ_CAP}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id),
    verified AS (
      SELECT i.train_doc, i.bench_doc,
             CAST(i.n_shared AS DOUBLE) / (sa.n + sb.n - i.n_shared)
                 AS jaccard
      FROM (
        SELECT c.train_doc, c.bench_doc, COUNT(*) AS n_shared
        FROM cand c
        JOIN capped a ON a.doc_id = c.train_doc
        JOIN capped b ON b.doc_id = c.bench_doc AND b.shingle = a.shingle
        GROUP BY 1, 2
      ) i
      JOIN sizes sa ON sa.doc_id = i.train_doc
      JOIN sizes sb ON sb.doc_id = i.bench_doc
    )
    SELECT d.doc_id AS bench_doc,
           CAST(COUNT(v.train_doc) AS BIGINT) AS n_candidates,
           CAST(SUM(CASE WHEN v.jaccard >= {JACCARD_THRESHOLD}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
           MAX(v.jaccard) AS max_jaccard
    FROM documents d
    LEFT JOIN verified v ON v.bench_doc = d.doc_id
    WHERE d.doc_id % 100 < 2
    GROUP BY 1
    """,
)
def px12_neardup_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-DUP eval decontamination — the leakage px4 (byte-identical)
    and px8 (n-gram overlap fraction) both miss: a training document
    that is a PARAPHRASED/near-copy of a benchmark document, found by
    the dd4 MinHash machinery run BIPARTITE (train bands vs benchmark
    bands) instead of as a self-join. Output is the per-benchmark-doc
    leakage audit a release checklist wants: every benchmark doc (the
    deterministic doc_id%100<2 slice, as px4/px8) with its candidate
    count, the number of verified near-dup train docs (exact Jaccard >=
    {JACCARD_THRESHOLD} over the dd4-capped shingle sets), and the
    worst match score (NULL when banding surfaced nothing).

    Scale shape: the benchmark side is tiny by construction (eval
    suites), so its band signatures AND its capped shingle sets are
    broadcast — the 100 TB train side is never shuffled on band
    signature or shingle; its only wide exchange is the per-doc
    signature groupBy it already shares with dd4 via the memoized
    shingle set. Broadcast sides are all candidate- or bench-bounded:
    the train-side per-doc sizes are left-semi-restricted to candidate
    train docs BEFORE the broadcast hint (a whole-corpus sizes
    broadcast would be data-proportional). SUM(CASE) is cast to BIGINT
    in the oracle (DuckDB HUGEINT vs int64 typed-hash trap, SURVEY §8).

    ``n_candidates`` counts VERIFIED-OVERLAP candidates — LSH banding
    candidates that share at least one capped shingle (the verify join
    is inner on shingle); a banding collision with zero capped overlap
    is a guaranteed-clean false positive and is not counted."""
    sh, capped = _dd4_shingle_cache(spark, sf_dir)
    is_bench = F.col("doc_id") % 100 < 2
    sig = sh.groupBy("doc_id").agg(*_minhash_sig_cols())
    bands = None
    for name, expr in _band_exprs():
        part = sig.select(
            "doc_id", F.lit(name).alias("band_id"), expr.alias("sig")
        )
        bands = part if bands is None else bands.unionByName(part)
    train_bands = bands.filter(~is_bench).select(
        F.col("doc_id").alias("train_doc"), "band_id", "sig"
    )
    bench_bands = bands.filter(is_bench).select(
        F.col("doc_id").alias("bench_doc"), "band_id", "sig"
    )
    cand = (
        train_bands.join(F.broadcast(bench_bands), ["band_id", "sig"])
        .select("train_doc", "bench_doc")
        .distinct()
    )
    # verify with exact Jaccard over the capped sets (dd4 parity); the
    # bench shingle side is broadcast for the same tiny-side reason
    sizes = capped.groupBy("doc_id").agg(F.count("*").alias("n"))
    sha = capped.select(F.col("doc_id").alias("train_doc"), "shingle")
    shb = capped.filter(is_bench).select(
        F.col("doc_id").alias("bench_doc"), "shingle"
    )
    inter = (
        cand.join(sha, "train_doc")
        .join(F.broadcast(shb), ["bench_doc", "shingle"])
        .groupBy("train_doc", "bench_doc")
        .agg(F.count("*").alias("n_shared"))
    )
    # restrict the train-side sizes to candidate train docs before the
    # broadcast: candidate-bounded, never corpus-bounded (every inter
    # row's train_doc has >=1 capped shingle, so the semi-join drops no
    # matches — it only shrinks the broadcast)
    sa = (
        sizes.select(F.col("doc_id").alias("train_doc"), F.col("n").alias("na"))
        .join(cand.select("train_doc"), "train_doc", "left_semi")
    )
    sb = sizes.select(F.col("doc_id").alias("bench_doc"), F.col("n").alias("nb"))
    jac = F.col("n_shared").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_shared")
    )
    verified = (
        inter.join(F.broadcast(sa), "train_doc")
        .join(F.broadcast(sb), "bench_doc")
        .select("train_doc", "bench_doc", jac.alias("jaccard"))
    )
    bench_docs = (
        load_table(spark, sf_dir, "documents").filter(is_bench).select("doc_id")
    )
    return (
        bench_docs.join(
            verified, bench_docs.doc_id == verified.bench_doc, "left"
        )
        .groupBy(F.col("doc_id").alias("bench_doc"))
        .agg(
            F.count("train_doc").alias("n_candidates"),
            F.sum(
                F.when(F.col("jaccard") >= JACCARD_THRESHOLD, 1).otherwise(0)
            ).cast("long").alias("n_contaminated"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


def _dd11_oracle() -> str:
    # dd7's transitive closure -> per-doc cluster size -> 1/size weight,
    # singletons (never paired) get weight 1.0
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.registry import (
        ORACLES,
    )

    dd4_sql = ORACLES["dd4_minhash_lsh_pairs"]
    return f"""
    WITH RECURSIVE pairs AS ({dd4_sql}),
    nodes AS (
      SELECT doc_a AS node FROM pairs UNION SELECT doc_b FROM pairs
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS (
      SELECT src AS doc_id, MIN(dst) AS canonical,
             COUNT(DISTINCT dst) AS component_size
      FROM reach GROUP BY src
    )
    SELECT d.doc_id,
           CAST(COALESCE(c.component_size, 1) AS BIGINT) AS component_size,
           1.0 / COALESCE(c.component_size, 1) AS sample_weight
    FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    """


@query("dd11_softdedup_weights", oracle=_dd11_oracle())
def dd11_softdedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT deduplication: instead of dropping near-dup cluster members
    (px6's hard keep/drop), assign every document a sampling weight of
    1/cluster_size so each near-dup CLUSTER contributes one document's
    worth of probability mass to the training mix — the
    down-weight-don't-delete recipe for cases where duplicates carry
    complementary context. Composes dd7's components with a left join
    back to the corpus (singletons weight 1.0); the division is one
    double op of exact ints, identical in any engine. Cost = dd7 + one
    broadcast-sized join of the (tiny) component table against the
    corpus keyed by doc_id."""
    comp = dd7_dedup_groups(spark, sf_dir).select("doc_id", "component_size")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    size = F.coalesce(F.col("component_size"), F.lit(1)).cast("long")
    return docs.join(F.broadcast(comp), "doc_id", "left").select(
        "doc_id",
        size.alias("component_size"),
        (F.lit(1.0) / size).alias("sample_weight"),
    )


@query(
    "dd12_keepfirst_manifest",
    oracle=r"""
    WITH fp AS (
      SELECT doc_id, source, n_chars,
             md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS f
      FROM documents
    ),
    k AS (
      SELECT source, n_chars,
             doc_id = MIN(doc_id) OVER (PARTITION BY f) AS kept
      FROM fp
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT)
               AS n_dropped,
           CAST(SUM(CASE WHEN kept THEN n_chars ELSE 0 END) AS BIGINT)
               AS kept_chars
    FROM k GROUP BY source
    """,
)
def dd12_keepfirst_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first dedup MANIFEST per source: after normalized-fingerprint
    dedup (lowercased, whitespace-collapsed — the dd2 fingerprint) with
    the deterministic lowest-doc_id keep rule, how many docs and chars
    each source actually contributes — the retention report a curation
    pipeline emits alongside the deduped corpus (dd1 returns the
    canonical rows; this returns the per-source accounting).

    Scale shape: one shuffle keyed on the 32-char fingerprint (window
    MIN per fingerprint — the exchange carries the hash, never the
    text), then a source-keyed aggregation over booleans. Both stages
    partial-aggregate map-side; no joins back to the corpus."""
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.text import (
        fingerprint,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars", fingerprint(F.col("text")).alias("f")
    )
    kept = (
        F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("f"))
    ).alias("kept")
    return (
        docs.select("source", "n_chars", kept)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum(F.when(F.col("kept"), 0).otherwise(1))
            .cast("long")
            .alias("n_dropped"),
            F.sum(F.when(F.col("kept"), F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("kept_chars"),
        )
    )


def _px11_corpus_ctes() -> str:
    """The px11 preprocessing DAG up to the curated ``corpus`` CTE —
    shared by px11's manifest oracle and the px17/px18 maintained-stats
    oracles (same dedup/decontamination/split semantics by
    construction)."""
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.analytics_ext import (
        _md5_mod_sql,
    )

    return rf"""{_SH_SQL},
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 100 < 2),
    train AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 100 >= 2),
    contam AS (
      SELECT doc_id FROM (
        SELECT t.doc_id, COUNT(*) AS n_grams,
               COUNT(*) FILTER (WHERE t.shingle IN (SELECT shingle FROM bench))
                   AS n_overlap
        FROM train t GROUP BY t.doc_id
      ) WHERE CAST(n_overlap AS DOUBLE) / n_grams >= {DECONTAM_OVERLAP}
    ),
    fp AS (
      SELECT doc_id, lang, source, text,
             md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS f
      FROM documents
    ),
    kept AS (
      SELECT doc_id, lang, source, text FROM (
        SELECT *, MIN(doc_id) OVER (PARTITION BY f) AS canon FROM fp
      ) WHERE doc_id = canon
    ),
    corpus AS (
      SELECT doc_id, lang, source,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END
                 AS n_tokens,
             {_md5_mod_sql("CAST(doc_id AS VARCHAR)", 10)} AS h
      FROM kept
      WHERE doc_id % 100 >= 2
        AND doc_id NOT IN (SELECT doc_id FROM contam)
    )"""


def _px11_oracle() -> str:
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.analytics_ext import (
        SHARD_TOKEN_BUDGET,
    )

    return rf"""
    WITH {_px11_corpus_ctes()},
    sharded AS (
      SELECT split, lang, n_tokens,
             CAST((SUM(n_tokens) OVER (PARTITION BY split, lang
                                       ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING) - n_tokens)
                  // {SHARD_TOKEN_BUDGET} AS BIGINT) AS shard_id
      FROM (
        SELECT *, CASE WHEN h < 8 THEN 'train' WHEN h = 8 THEN 'val'
                       ELSE 'test' END AS split
        FROM corpus
      )
    )
    SELECT split, lang, shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
    FROM sharded GROUP BY split, lang, shard_id
    """


@query("px11_training_manifest", oracle=_px11_oracle())
def px11_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation artifact: one oracle-checked query running
    the whole preprocessing DAG a pretraining dump goes through —
    (1) keep-first fingerprint dedup (dd12's rule; dup copies of
    benchmark content die here too), (2) benchmark-slice exclusion +
    n-gram eval decontamination (px8's >= {DECONTAM_OVERLAP:.0%} rule),
    (3) deterministic md5 train/val/test split (px2), (4) per-
    (split, lang) token-budget shard packing by exclusive running sums
    (px5) — emitting the (split, lang, shard, docs, tokens) manifest a
    dataloader consumes.

    Scale shape, stage by stage: fingerprint window shuffles the 32-char
    hash; the benchmark gram set broadcasts (eval suites are tiny) so
    the train side never shuffles on gram; split/hash is map-side; shard
    packing windows within (split, lang). No stage materializes the
    corpus more than once — the composition is exactly the individual
    operators', fused by Catalyst into one plan."""
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.analytics_ext import (
        SHARD_TOKEN_BUDGET,
        _md5_mod,
    )
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.text import (
        fingerprint,
        token_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    kept = (
        docs.withColumn(
            "_canon",
            F.min("doc_id").over(Window.partitionBy(fingerprint(F.col("text")))),
        )
        .filter(F.col("doc_id") == F.col("_canon"))
        .drop("_canon")
    )

    sh, _ = _dd4_shingle_cache(spark, sf_dir)
    bench = sh.filter(F.col("doc_id") % 100 < 2).select("shingle").distinct()
    train = sh.filter(F.col("doc_id") % 100 >= 2)
    contam = (
        train.join(
            F.broadcast(bench.withColumn("_hit", F.lit(1))), "shingle", "left"
        )
        .groupBy("doc_id")
        .agg(
            (F.count("_hit").cast("double") / F.count("*")).alias("_frac")
        )
        .filter(F.col("_frac") >= DECONTAM_OVERLAP)
        .select("doc_id")
    )

    h = _md5_mod(F.col("doc_id").cast("string"), 10)
    split = (
        F.when(h < 8, F.lit("train"))
        .when(h == 8, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    corpus = (
        kept.filter(F.col("doc_id") % 100 >= 2)
        .join(F.broadcast(contam), "doc_id", "left_anti")
        .select(
            "doc_id",
            "lang",
            token_count(F.col("text")).alias("n_tokens"),
            split.alias("split"),
        )
    )
    w = (
        Window.partitionBy("split", "lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # exclusive prefix sum: running total minus own tokens
    sharded = (
        corpus.withColumn("_rsum", F.sum("n_tokens").over(w))
        .withColumn(
            "shard_id",
            F.expr(f"(_rsum - n_tokens) DIV {SHARD_TOKEN_BUDGET}"),
        )
        .drop("_rsum")
    )
    return sharded.groupBy("split", "lang", "shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("shard_tokens"),
    )


def _manifest_replay(spark: SparkSession, sf_dir: str) -> dict:
    """Memoized 3-dump replay of the documents table through the
    MAINTAINED curation manifest (streaming/curation.py): freeze the
    benchmark slice (doc_id % 100 < 2) at initialize, then ingest the
    training docs as THREE doc_id-ordered dumps, and collect ALL the
    maintained views (manifest + per-lang + per-source stats) before
    the temp state dir vanishes. One replay serves px16/px17/px18 —
    every view is group-cardinality, never corpus-proportional. The
    collected views live in the session memo registry (``cache.py``),
    which retraction releases."""
    import shutil as _shutil
    import tempfile as _tempfile

    from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.curation import (
        IncrementalCurationManifest,
    )

    def replay() -> dict:
        docs = load_table(spark, sf_dir, "documents")
        bench = docs.filter(F.col("doc_id") % 100 < 2)
        train = docs.filter(F.col("doc_id") % 100 >= 2)
        b = train.agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")).first()
        c1 = b["lo"] + (b["hi"] - b["lo"]) // 3
        c2 = b["lo"] + 2 * (b["hi"] - b["lo"]) // 3
        tmp = _tempfile.mkdtemp(prefix="px16_mf_")
        try:
            mf = IncrementalCurationManifest(spark, tmp)
            mf.initialize(bench)
            mf.ingest(train.filter(F.col("doc_id") <= c1))
            mf.ingest(
                train.filter((F.col("doc_id") > c1) & (F.col("doc_id") <= c2))
            )
            mf.ingest(train.filter(F.col("doc_id") > c2))
            return {
                name: (view.collect(), view.schema)
                for name, view in (
                    ("manifest", mf.manifest()),
                    ("lang", mf.stats_by_lang()),
                    ("source", mf.stats_by_source()),
                )
            }
        finally:
            _shutil.rmtree(tmp, ignore_errors=True)

    return memo(spark, "px16_replay", sf_dir, replay)


@query("px16_incremental_manifest")
def px16_incremental_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MAINTAINED training manifest after a 3-dump replay
    (``_manifest_replay``) — by the maintenance invariant this equals
    fresh px11 over the full table, so it shares px11's DuckDB oracle
    verbatim (the driver re-derives the equality every round; the dd15
    pattern applied to curation state). bench.py times the per-dump
    DELTA cost via ``_bench_incremental_manifest``, not this replay
    wrapper."""
    rows, schema = _manifest_replay(spark, sf_dir)["manifest"]
    return spark.createDataFrame(rows, schema)


@query(
    "px17_incremental_lang_stats",
    oracle=rf"""
    WITH {_px11_corpus_ctes()}
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM corpus GROUP BY lang
    """,
)
def px17_incremental_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintained PER-LANGUAGE curated-corpus statistics (px7's
    input) after the 3-dump replay — additively merged per dump by
    ``IncrementalCurationManifest``, so they must equal a fresh
    aggregate over the px11 curated corpus (the oracle reuses px11's
    own CTEs up to ``corpus``); the driver check therefore pins the
    stats tables to the same dedup/decontamination/split semantics the
    manifest is graded on."""
    rows, schema = _manifest_replay(spark, sf_dir)["lang"]
    return spark.createDataFrame(rows, schema)


@query(
    "px18_incremental_source_stats",
    oracle=rf"""
    WITH {_px11_corpus_ctes()}
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM corpus GROUP BY source
    """,
)
def px18_incremental_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintained PER-SOURCE curated-corpus statistics (px10's
    mixture-weight input) after the 3-dump replay — same maintenance
    algebra and oracle construction as px17, keyed on the source
    column."""
    rows, schema = _manifest_replay(spark, sf_dir)["source"]
    return spark.createDataFrame(rows, schema)


def _dd13_oracle() -> str:
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.registry import (
        ORACLES,
    )

    return f"""
    WITH groups AS ({ORACLES["dd7_dedup_groups"]}),
    comp AS (
      SELECT canonical_doc_id, component_size
      FROM groups GROUP BY canonical_doc_id, component_size
    )
    SELECT component_size AS cluster_size,
           COUNT(*) AS n_clusters,
           CAST(COUNT(*) * component_size AS BIGINT) AS n_docs,
           CAST(COUNT(*) * (component_size - 1) AS BIGINT) AS n_droppable
    FROM comp GROUP BY component_size
    """


@query("dd13_cluster_size_histogram", oracle=_dd13_oracle())
def dd13_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER-SIZE DISTRIBUTION — the dedup health report: how
    many clusters of each size the corpus contains, how many documents
    they hold, and how many a keep-one policy would drop. A long tail of
    big clusters is the template-spam signature that decides banding
    parameters; pipelines chart exactly this before committing a dedup
    config. One aggregation over dd7's (already component-reduced)
    output — cluster count rows, trivially small at any corpus scale."""
    groups = dd7_dedup_groups(spark, sf_dir)
    comp = groups.select("canonical_doc_id", "component_size").distinct()
    return (
        comp.groupBy(F.col("component_size").alias("cluster_size"))
        .agg(F.count("*").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("n_clusters") * F.col("cluster_size"))
            .cast("long")
            .alias("n_docs"),
            (F.col("n_clusters") * (F.col("cluster_size") - 1))
            .cast("long")
            .alias("n_droppable"),
        )
    )


SIMHASH_BAND_BITS = 15  # 4 bands x 15 bits over the 60-bit signature
HAMMING_MAX = 8  # near-dup verification threshold (of 60 bits)


def _dd14_oracle() -> str:
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.registry import (
        ORACLES,
    )

    n_bands = SIMHASH_BITS // SIMHASH_BAND_BITS
    mask = (1 << SIMHASH_BAND_BITS) - 1
    bands = "\n      UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band, "
        f"(simhash >> {SIMHASH_BAND_BITS * b}) & {mask} AS bval FROM sigs"
        for b in range(n_bands)
    )
    return f"""
    WITH sigs AS ({ORACLES["dd5_simhash"]}),
    banded AS (
      {bands}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sig_a, b.simhash AS sig_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(sig_a, sig_b)) <= {HAMMING_MAX}
    """


@query("dd14_simhash_hamming_pairs", oracle=_dd14_oracle())
def dd14_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The downstream join dd5's signature exists FOR: near-dup pairs by
    simhash hamming distance. Banding the 60-bit signature into 4x15-bit
    keys guarantees any pair within hamming distance 3 collides in some
    band (pigeonhole) and catches most pairs out to the verification
    threshold; candidates then verify exactly with
    bit_count(xor) <= HAMMING_MAX. The whole pipeline is integer-exact
    (bit identical in any engine), and cost tracks band collisions —
    one signature row per doc shuffles, never text. Completes the
    SimHash path: dd5 signs, dd14 pairs, the CC machinery (dd7) would
    cluster."""
    sigs = dd5_simhash(spark, sf_dir)
    mask = (1 << SIMHASH_BAND_BITS) - 1
    bands = None
    for b_idx in range(SIMHASH_BITS // SIMHASH_BAND_BITS):
        part = sigs.select(
            "doc_id",
            "simhash",
            F.lit(b_idx).alias("band"),
            F.shiftright("simhash", SIMHASH_BAND_BITS * b_idx)
            .bitwiseAND(F.lit(mask))
            .alias("bval"),
        )
        bands = part if bands is None else bands.unionByName(part)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(
        F.col("sig_a").bitwiseXOR(F.col("sig_b"))
    ).cast("long")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


# --- px13: exact-substring dedup span manifests (Lee et al. 2022) ----------

# Minimum repeated-run length, in tokens. The ExactSubstr recipe in
# "Deduplicating Training Data Makes Language Models Better" (Lee et
# al., 2022) removes verbatim runs of >= 50 tokens repeated anywhere in
# the corpus; dd9 only SIGNALS cross-doc n-gram repetition — this
# operator produces the per-document REMOVED-SPAN manifest a curation
# job actually applies.
EXACT_SUBSTR_MIN_TOKENS = 50


@query(
    "px13_exact_substring_spans",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
      FROM documents
    ),
    starts AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             md5(array_to_string(
                 w[i+1:i+{EXACT_SUBSTR_MIN_TOKENS}], ' ')) AS g
      FROM (
        SELECT doc_id, w,
               unnest(range(greatest(
                   len(w) - {EXACT_SUBSTR_MIN_TOKENS} + 1, 0))) AS i
        FROM tok
      )
    ),
    dup AS (SELECT g FROM starts GROUP BY g HAVING COUNT(*) > 1),
    ds AS (SELECT doc_id, pos FROM starts SEMI JOIN dup USING (g)),
    isl AS (
      SELECT doc_id, pos,
             SUM(CASE WHEN pos > prev + {EXACT_SUBSTR_MIN_TOKENS}
                      THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM (
        SELECT doc_id, pos,
               LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM ds
      )
    )
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + {EXACT_SUBSTR_MIN_TOKENS} - 1 AS BIGINT)
               AS span_end,
           CAST(MAX(pos) - MIN(pos) + {EXACT_SUBSTR_MIN_TOKENS} AS BIGINT)
               AS span_tokens
    FROM isl GROUP BY doc_id, island
    """,
)
def px13_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-substring dedup span manifests — the Lee-et-al. ExactSubstr
    recipe dd9 only signals: for every document, the maximal token spans
    covered by a >= {K}-token run that appears verbatim MORE THAN ONCE
    in the corpus (cross-doc or self-repeat, as in the paper). Output
    (doc_id, span_start, span_end, span_tokens) is directly applicable:
    drop those token ranges and every surviving >= {K}-token substring
    is corpus-unique.

    Spark-first reduction of the paper's suffix array: a repeated run of
    length >= K is exactly the union of its repeated K-gram prefixes, so
    (1) one ordered-window pass builds each position's K-gram (O(K) per
    row — no per-position array slicing, which would be O(len^2) per
    doc on long documents), hashed to md5 for a portable 128-bit
    fingerprint; (2) a hash-shuffle groupBy finds grams occurring > 1
    time (map-side partial counts); (3) a keyed semi-join marks covered
    start positions; (4) a per-doc gaps-and-islands window merges
    overlapping/adjacent covered intervals into maximal spans. Suffix
    ORDERING is replaced by gram HASHING — same duplicated-run set, no
    global sort, every stage either per-doc-windowed or keyed on the
    gram hash: linear in corpus tokens at any scale.

    K = EXACT_SUBSTR_MIN_TOKENS = {K} (the paper's 50)."""
    from pyspark.sql.window import Window

    K = EXACT_SUBSTR_MIN_TOKENS
    tok = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(F.split(F.trim(F.col("text")), r"\s+")).alias(
                "pos", "w"
            ),
        )
    )
    wf = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, K - 1)
    )
    grams = tok.select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.md5(F.concat_ws(" ", F.collect_list("w").over(wf))).alias("g"),
        F.count("*").over(wf).alias("nf"),
    )
    starts = grams.filter(F.col("nf") == K).select("doc_id", "pos", "g")
    dup = (
        starts.groupBy("g")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .select("g")
    )
    ds = starts.join(dup, "g", "left_semi")
    wo = Window.partitionBy("doc_id").orderBy("pos")
    spans = (
        ds.withColumn("prev", F.lag("pos").over(wo))
        .withColumn(
            "island",
            F.sum(
                F.when(F.col("pos") > F.col("prev") + K, 1).otherwise(0)
            ).over(wo),
        )
        .groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + K - 1).alias("span_end"),
            (F.max("pos") - F.min("pos") + K).alias("span_tokens"),
        )
        .select("doc_id", "span_start", "span_end", "span_tokens")
    )
    return spans


px13_exact_substring_spans.__doc__ = px13_exact_substring_spans.__doc__.format(
    K=EXACT_SUBSTR_MIN_TOKENS
)


@query(
    "px14_exact_substring_decontamination",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
      FROM documents
    ),
    starts AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             md5(array_to_string(
                 w[i+1:i+{EXACT_SUBSTR_MIN_TOKENS}], ' ')) AS g
      FROM (
        SELECT doc_id, w,
               unnest(range(greatest(
                   len(w) - {EXACT_SUBSTR_MIN_TOKENS} + 1, 0))) AS i
        FROM tok
      )
    ),
    bench AS (SELECT DISTINCT g FROM starts WHERE doc_id % 100 < 2),
    ds AS (
      SELECT doc_id, pos FROM starts
      WHERE doc_id % 100 >= 2 AND g IN (SELECT g FROM bench)
    ),
    isl AS (
      SELECT doc_id, pos,
             SUM(CASE WHEN pos > prev + {EXACT_SUBSTR_MIN_TOKENS}
                      THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM (
        SELECT doc_id, pos,
               LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM ds
      )
    )
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + {EXACT_SUBSTR_MIN_TOKENS} - 1 AS BIGINT)
               AS span_end,
           CAST(MAX(pos) - MIN(pos) + {EXACT_SUBSTR_MIN_TOKENS} AS BIGINT)
               AS span_tokens
    FROM isl GROUP BY doc_id, island
    """,
)
def px14_exact_substring_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT-substring eval decontamination — px13's machinery run
    BIPARTITE (train grams vs benchmark grams), the verbatim-leak twin
    of px12's near-dup audit: for every TRAIN document (doc_id%100>=2,
    the px4/px8/px12 split convention), the maximal token spans whose
    >= {K}-token runs appear VERBATIM in any benchmark doc
    (doc_id%100<2). Dropping the spans removes every benchmark quote of
    >= {K} tokens from the training set while keeping the rest of the
    document — span surgery instead of px8's whole-doc flag.

    Scale shape: the benchmark side is eval-suite-sized, so its
    DISTINCT gram hashes are BROADCAST and the 100 TB train side is
    never shuffled on gram — candidate marking is a map-side semi join;
    the only train-side exchanges are the per-doc windows (gram build,
    islands merge), both partitioned by doc_id. K =
    EXACT_SUBSTR_MIN_TOKENS = {K}."""
    from pyspark.sql.window import Window

    K = EXACT_SUBSTR_MIN_TOKENS
    is_bench = F.col("doc_id") % 100 < 2
    tok = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(F.split(F.trim(F.col("text")), r"\s+")).alias(
                "pos", "w"
            ),
        )
    )
    wf = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, K - 1)
    )
    grams = tok.select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.md5(F.concat_ws(" ", F.collect_list("w").over(wf))).alias("g"),
        F.count("*").over(wf).alias("nf"),
    ).filter(F.col("nf") == K)
    bench = grams.filter(is_bench).select("g").distinct()
    ds = (
        grams.filter(~is_bench)
        .select("doc_id", "pos", "g")
        .join(F.broadcast(bench), "g", "left_semi")
    )
    wo = Window.partitionBy("doc_id").orderBy("pos")
    return (
        ds.withColumn("prev", F.lag("pos").over(wo))
        .withColumn(
            "island",
            F.sum(
                F.when(F.col("pos") > F.col("prev") + K, 1).otherwise(0)
            ).over(wo),
        )
        .groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + K - 1).alias("span_end"),
            (F.max("pos") - F.min("pos") + K).alias("span_tokens"),
        )
        .select("doc_id", "span_start", "span_end", "span_tokens")
    )


px14_exact_substring_decontamination.__doc__ = (
    px14_exact_substring_decontamination.__doc__.format(
        K=EXACT_SUBSTR_MIN_TOKENS
    )
)


def _px15_oracle() -> str:
    # dd7's transitive-closure CTE gives the cluster canonical; the
    # split key is md5(cluster id) — px2's rule lifted from doc to
    # CLUSTER granularity. The bucket SQL comes from _md5_mod_sql so
    # the Spark/DuckDB hash twins can never drift apart (the px2
    # pairing convention).
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.analytics_ext import (
        _md5_mod_sql,
    )
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.registry import (
        ORACLES,
    )

    dd4_sql = ORACLES["dd4_minhash_lsh_pairs"]
    return f"""
    WITH RECURSIVE pairs AS ({dd4_sql}),
    nodes AS (
      SELECT doc_a AS node FROM pairs UNION SELECT doc_b FROM pairs
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    canon AS (SELECT src AS doc_id, MIN(dst) AS canonical FROM reach GROUP BY src),
    assigned AS (
      SELECT d.doc_id, d.n_chars,
             COALESCE(c.canonical, d.doc_id) AS cluster_id,
             {_md5_mod_sql(
                 "CAST(COALESCE(c.canonical, d.doc_id) AS VARCHAR)", 10
             )} AS h
      FROM documents d LEFT JOIN canon c ON c.doc_id = d.doc_id
    )
    SELECT CASE WHEN h < 8 THEN 'train' WHEN h = 8 THEN 'val'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM assigned GROUP BY 1
    """


@query("px15_cluster_safe_split", oracle=_px15_oracle())
def px15_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/val/test split: px2 hashes each DOC into a
    split, which lets two near-duplicate documents land in train and
    val — the eval then scores memorization (the leak px12 audits
    after the fact). This operator prevents it BY CONSTRUCTION: the
    split key is the near-dup CLUSTER id (dd7's canonical; a doc in no
    pair is its own cluster), so every near-dup cluster lands wholly
    in one split. Same md5-threshold 80/10/10 rule as px2 — stable
    across runs, retries, and engines.

    Composition: dd4 pairs (memoized) -> dd7 components -> one
    broadcast left join back to the corpus (the component table only
    holds PAIRED docs — tiny next to the corpus) -> map-side split
    hash -> 3-group aggregate. The per-doc assignment frame before the
    aggregate is the manifest a pipeline would persist; the registered
    query reports the per-split audit (doc/cluster/char counts) the
    oracle can replay."""
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.analytics_ext import (
        _md5_mod,
    )

    groups = dd7_dedup_groups(spark, sf_dir).select(
        "doc_id", "canonical_doc_id"
    )
    docs = load_table(spark, sf_dir, "documents")
    cluster = F.coalesce(F.col("canonical_doc_id"), F.col("doc_id"))
    h = _md5_mod(cluster.cast("string"), 10)
    split = (
        F.when(h < 8, F.lit("train"))
        .when(h == 8, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.join(F.broadcast(groups), on="doc_id", how="left")
        .select(
            split.alias("split"),
            cluster.alias("cluster_id"),
            "n_chars",
        )
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("cluster_id").alias("n_clusters"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# px16's oracle IS px11's oracle — the curation-manifest maintenance
# contract (streaming/curation.py), same pattern as dd15 -> dd4.
from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.registry import (  # noqa: E402
    ORACLES as _ORACLES,
)

_ORACLES["px16_incremental_manifest"] = _ORACLES["px11_training_manifest"]
