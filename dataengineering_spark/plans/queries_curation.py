"""Round-7 data-curation tier: the selection / semantic-dedup passes a
pretraining pipeline runs between raw crawl and tokenizer, each exact
vs the DuckDB oracle:

- ``semantic_dedup`` — SemDeDup-style embedding dedup (Abbas et al.
  2023, arXiv:2303.09540): k-means-partition the embedding space
  (the IVF coarse quantizer — md5-ranked seeds, fixed Lloyd
  iterations, 1e-6 fixed-point centroid sums, so training replays in
  DuckDB bit-for-bit), generate candidate pairs only WITHIN a cell,
  connect pairs with cosine >= threshold into clusters, and keep one
  doc per cluster — the member with the LOWEST cosine to its cell
  centroid (the paper's keep-rule: prefer the least prototypical
  member). Within-cell pairing is the scale story: candidates are
  cell-local (an equi-join on cid), never the all-pairs square; the
  cluster step is the same connected-components engine
  ``dedup_clusters`` runs, and the oracle replays it as a recursive
  transitive closure.
- ``dsir_weights`` — Data Selection with Importance Resampling
  (Xie et al. 2023, arXiv:2302.03169) weights over hashed bigram
  features: bucket every word bigram into B hashed buckets (the
  md5 sampling hash shared with operators/sampling, so both engines
  agree bit-for-bit), estimate Laplace-smoothed bucket probabilities
  for the target slice (lang='en' — language-targeted selection,
  DSIR's own headline use) and for the raw corpus, and score each
  document Σ_b cnt_b(doc) · (p_target(b) − p_raw(b)) on a 1e-9
  fixed-point grid. The log-LR of the paper is libm ``ln`` — banned
  from compared values since tfidf_terms — so the score is the
  log-free linear surrogate with the same argmax behavior for
  resampling: monotone in each bucket's probability gap. Both
  probability terms are single correctly-rounded double divisions,
  their difference/product IEEE-exact ops, and the per-doc sum is a
  BIGINT fixed-point sum, so every output value is integer-exact.

Reference surface: the reference stops at exact/near dedup
(``clickhouse/v1/operator.py:440-499`` drives dedup maintenance);
this tier adds the embedding-space and importance-sampling curation
passes a 100 TB pretraining corpus needs on top.

Scale notes: semantic_dedup's training collect is k-bounded
(C × dim doubles), assignment is a narrow map against centroid
literals (no Exchange before the cell id — see
operators/similarity.ivf_assign), pair generation shuffles on cid
only, and the connected components are contraction + star rounds.
dsir_weights is two hash-agg passes (corpus bucket counts → B rows;
per-doc bucket counts) plus one broadcast join of the B-row
probability table — no shuffle wider than the per-(doc,bucket)
aggregate, and B is a constant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineering_spark.plans.queries_llm import DIM, _docs, _emb

# --- semantic_dedup knobs: C/iters mirror ivf_ann so the trained
# quantizer is the one already proven oracle-exact; the threshold
# matches embedding_neardup's (the corpus' high-similarity tail).
SEM_C, SEM_ITERS, SEM_THRESHOLD = 8, 2, 0.35

# --- dsir knobs: hashed-feature bucket count and the fixed-point grid
# for the probability-gap score. B=64 keeps the probability table a
# broadcast literal at any corpus size; 1e-9 resolves gaps between
# Laplace-smoothed probabilities whose denominators are corpus-sized.
DSIR_BUCKETS = 64
DSIR_SCALE = 1_000_000_000
DSIR_TARGET_LANG = "en"
DSIR_SALT = "dsir"


# ===========================================================================
# Q: semantic_dedup — SemDeDup over the embeddings table
# ===========================================================================

# Session-scoped memo of the trained coarse quantizer (C × dim driver
# lists, a few KB). Training is deterministic from the corpus, so
# reuse changes nothing about the result — it reflects how SemDeDup is
# operated (train once, partition many corpora/epochs), the same
# contract as the IVF-PQ index memo (queries_llm._IVFPQ_INDEX_CACHE).
# Keyed by applicationId so a memo never outlives its session.
_SEM_QUANTIZER_CACHE: dict[tuple, list] = {}


def _sem_cent_rows(spark: SparkSession, sf_dir: str) -> list:
    from dataengineering_spark.operators.similarity import (
        _spread_for_training,
        ivf_train_rows,
    )

    key = (spark.sparkContext.applicationId, sf_dir, SEM_C, SEM_ITERS)
    rows = _SEM_QUANTIZER_CACHE.get(key)
    if rows is None:
        e = _spread_for_training(
            _emb(spark, sf_dir).select(
                "vec_id", F.col("embedding").cast("array<double>").alias("v")
            )
        )
        rows = ivf_train_rows(e, SEM_C, SEM_ITERS, DIM)
        _SEM_QUANTIZER_CACHE[key] = rows
    return rows


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineering_spark.operators.dedup import semantic_dedup_members

    # C pinned at ivf_ann's 8 so the oracle replays the proven
    # quantizer; real corpora size C with N (see the operator's
    # docstring — within-cell pair work is O(N²/C)).
    return semantic_dedup_members(
        _emb(spark, sf_dir),
        n_centroids=SEM_C,
        n_iters=SEM_ITERS,
        dim=DIM,
        threshold=SEM_THRESHOLD,
        cent_rows=_sem_cent_rows(spark, sf_dir),
    )


def _dd(a: str, b: str) -> str:
    return f"list_dot_product({a}, {b})"


def _cells_cte_chain(n_centroids: int, n_iters: int, dim: int) -> tuple[str, str]:
    """(joined CTE text, final-centroid CTE name): the ivf_ann training
    chain (md5-ranked seeds → fixed Lloyd rounds → cell assignment) —
    shared by every oracle that replays the quantizer."""

    def dist2(v: str, c: str) -> str:
        return f"({_dd(v, v)} - 2*{_dd(v, c)} + {_dd(c, c)})"

    def assign_cte(name: str, src: str, cents: str, n: int) -> str:
        return f"""{name} AS (
  SELECT vec_id, v, cid FROM (
    SELECT s.vec_id, s.v, c.cid,
      ROW_NUMBER() OVER (PARTITION BY s.vec_id
                         ORDER BY {dist2('s.v', 'c.cv')}, c.cid) AS rn
    FROM {src} s CROSS JOIN {cents} c) WHERE rn <= {n}
)"""

    def cent_cte(name: str, asg: str) -> str:
        return f"""{name} AS (
  SELECT cid, list(comp ORDER BY pos) AS cv FROM (
    SELECT cid, pos,
      CAST(SUM(CAST(floor(v[pos] * 1000000.0) AS BIGINT)) AS DOUBLE)
        / (1000000.0 * COUNT(*)) AS comp
    FROM {asg}, range(1, {dim + 1}) t(pos)
    GROUP BY cid, pos)
  GROUP BY cid
)"""

    ctes = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"""seeds AS (
  SELECT rn - 1 AS cid, v AS cv FROM (
    SELECT v, ROW_NUMBER() OVER (
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
    FROM e) WHERE rn <= {n_centroids}
)""",
    ]
    cents = "seeds"
    for i in range(n_iters):
        ctes.append(assign_cte(f"asg{i}", "e", cents, 1))
        cents = f"cent{i + 1}"
        ctes.append(cent_cte(cents, f"asg{i}"))
    ctes.append(assign_cte("cells", "e", cents, 1))
    return ",\n".join(ctes), cents


def _semantic_graph_ctes(
    n_centroids: int, n_iters: int, dim: int, threshold: float
) -> str:
    """Everything before the final SELECT: the cells chain, the
    per-vector centroid cosine, within-cell threshold pairs, the
    recursive closure, and component labels — shared by
    semantic_dedup and semantic_survivors."""
    dd = _dd

    def cos(a: str, b: str) -> str:
        return f"{dd(a, b)} / (sqrt({dd(a, a)}) * sqrt({dd(b, b)}))"

    joined, cents = _cells_cte_chain(n_centroids, n_iters, dim)
    return f"""
WITH RECURSIVE {joined},
cos_c AS (
  SELECT a.vec_id, a.cid, {cos('a.v', 'c.cv')} AS cos_centroid
  FROM cells a JOIN {cents} c ON a.cid = c.cid
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM cells a JOIN cells b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {dd('a.v', 'b.v')}
    >= {threshold} * sqrt({dd('a.v', 'a.v')} * {dd('b.v', 'b.v')})
),
edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM pairs
  UNION
  SELECT vec_b AS src, vec_a AS dst FROM pairs
),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src
),
comp AS (
  SELECT src AS vec_id, LEAST(src, MIN(dst)) AS component
  FROM reach GROUP BY src
)"""


def _semantic_dedup_sql(
    n_centroids: int, n_iters: int, dim: int, threshold: float
) -> str:
    """The ivf_ann training CTE chain (seeds → fixed Lloyd rounds →
    cells), then within-cell threshold pairs and a recursive
    min-reachable-id closure — the same label ``dedup_clusters``
    assigns, here over the cosine graph."""
    return _semantic_graph_ctes(n_centroids, n_iters, dim, threshold) + """
SELECT comp.component, comp.vec_id, CAST(cos_c.cid AS INT) AS cid,
  cos_c.cos_centroid,
  (ROW_NUMBER() OVER (PARTITION BY comp.component
                      ORDER BY cos_c.cos_centroid ASC, comp.vec_id ASC) = 1)
    AS keep
FROM comp JOIN cos_c ON comp.vec_id = cos_c.vec_id
"""


SQL_SEMANTIC_DEDUP = _semantic_dedup_sql(SEM_C, SEM_ITERS, DIM, SEM_THRESHOLD)


# ===========================================================================
# Q: semantic_survivors — the corpus that ships after SemDeDup
# ===========================================================================

def q_semantic_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineering_spark.operators.dedup import semantic_dedup_members

    emb = _emb(spark, sf_dir)
    members = semantic_dedup_members(
        emb,
        n_centroids=SEM_C,
        n_iters=SEM_ITERS,
        dim=DIM,
        threshold=SEM_THRESHOLD,
        cent_rows=_sem_cent_rows(spark, sf_dir),
    )
    dropped = members.filter(~F.col("keep")).select("vec_id")
    # left-anti: the surviving side (cluster keepers + every
    # never-clustered vector) never shuffles by cluster — the
    # dedup_survivors shape
    return emb.select("vec_id").join(dropped, "vec_id", "left_anti")


def _semantic_survivors_sql(
    n_centroids: int, n_iters: int, dim: int, threshold: float
) -> str:
    return _semantic_graph_ctes(n_centroids, n_iters, dim, threshold) + """,
dropped AS (
  SELECT vec_id FROM (
    SELECT comp.vec_id,
      ROW_NUMBER() OVER (PARTITION BY comp.component
                         ORDER BY cos_c.cos_centroid ASC, comp.vec_id ASC)
        AS rn
    FROM comp JOIN cos_c ON comp.vec_id = cos_c.vec_id) WHERE rn > 1
)
SELECT e.vec_id FROM e LEFT JOIN dropped d ON e.vec_id = d.vec_id
WHERE d.vec_id IS NULL
"""


SQL_SEMANTIC_SURVIVORS = _semantic_survivors_sql(
    SEM_C, SEM_ITERS, DIM, SEM_THRESHOLD
)


# ===========================================================================
# Q: semantic_cell_stats — hot-cell cap accounting (no-silent-caps)
# ===========================================================================

SEM_CELL_CAP = 60


def q_semantic_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineering_spark.operators.dedup import semantic_cell_stats

    return semantic_cell_stats(
        _emb(spark, sf_dir),
        n_centroids=SEM_C,
        n_iters=SEM_ITERS,
        dim=DIM,
        max_cell_size=SEM_CELL_CAP,
        cent_rows=_sem_cent_rows(spark, sf_dir),
    )


def _semantic_cell_stats_sql(
    n_centroids: int, n_iters: int, dim: int, cap: int
) -> str:
    joined, _cents = _cells_cte_chain(n_centroids, n_iters, dim)
    kept_per_hot = cap * (cap - 1) // 2
    return f"""
WITH {joined},
sizes AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM cells GROUP BY cid)
SELECT CAST(cid AS INT) AS cid, n_vecs,
  CAST(n_vecs * (n_vecs - 1) // 2 AS BIGINT) AS cand_pairs,
  (n_vecs > {cap}) AS over_cap,
  CAST(CASE WHEN n_vecs > {cap} THEN {kept_per_hot}
       ELSE n_vecs * (n_vecs - 1) // 2 END AS BIGINT) AS pairs_kept_if_sampled
FROM sizes
"""


SQL_SEMANTIC_CELL_STATS = _semantic_cell_stats_sql(
    SEM_C, SEM_ITERS, DIM, SEM_CELL_CAP
)


# ===========================================================================
# Q: dsir_weights — hashed-bigram importance weights per document
# ===========================================================================

def dsir_bucket_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, bucket) — one row per word-bigram occurrence,
    bucketed by the engine-portable md5 sampling hash. The single
    feature-extraction expression both the batch query and the
    streaming partials (streaming/dsir.py) run, so stream == batch is
    provable on exact integers."""
    from dataengineering_spark.operators.sampling import sample_hash

    pairs = F.expr(
        "CASE WHEN size(_w) >= 2 THEN "
        "transform(sequence(1, size(_w) - 1),"
        " i -> concat(_w[i-1], ' ', _w[i])) "
        "ELSE array() END"
    )
    return (
        docs.select("doc_id", "lang", F.split(F.col("text"), " ").alias("_w"))
        .select("doc_id", "lang", F.explode(pairs).alias("bg"))
        .select(
            "doc_id",
            "lang",
            F.pmod(sample_hash(F.col("bg"), DSIR_SALT), F.lit(DSIR_BUCKETS)).alias(
                "bucket"
            ),
        )
    )


def dsir_bucket_counts(bib: DataFrame) -> DataFrame:
    """(bucket, raw_cnt, tgt_cnt) — the mergeable sufficient statistic
    of the DSIR model: summing these per bucket across any partition
    of the corpus (micro-batch epochs included) reproduces the
    full-corpus counts exactly."""
    return bib.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("raw_cnt"),
        F.sum((F.col("lang") == DSIR_TARGET_LANG).cast("long")).alias("tgt_cnt"),
    )


def dsir_scores(docs: DataFrame, bib: DataFrame, counts: DataFrame) -> DataFrame:
    """Score every document against bucket counts: Laplace-smoothed
    target-vs-raw probability gap per bucket on the 1e-9 fixed-point
    grid, per-doc score = Σ cnt·gap (BIGINT-exact). ``counts`` may
    come straight from :func:`dsir_bucket_counts` or from folded
    streaming partials — identical integers either way."""
    totals = counts.agg(
        F.sum("raw_cnt").alias("raw_tot"), F.sum("tgt_cnt").alias("tgt_tot")
    )
    probs = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.floor(
            (
                (F.col("tgt_cnt") + 1).cast("double")
                / (F.col("tgt_tot") + DSIR_BUCKETS).cast("double")
                - (F.col("raw_cnt") + 1).cast("double")
                / (F.col("raw_tot") + DSIR_BUCKETS).cast("double")
            )
            * F.lit(float(DSIR_SCALE))
        )
        .cast("long")
        .alias("diff_fp"),
    )
    doc_b = bib.groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    scored = (
        doc_b.join(F.broadcast(probs), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.sum(F.col("cnt") * F.col("diff_fp")).alias("score_fp"),
        )
    )
    return docs.select("doc_id").join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce(F.col("score_fp"), F.lit(0)).cast("long").alias("score_fp"),
    )


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineering_spark.caching import persist_tracked

    docs = _docs(spark, sf_dir)
    # two aggregation passes (counts + per-doc) share one explode+hash
    # scan
    bib = persist_tracked(dsir_bucket_frame(docs))
    return dsir_scores(docs, bib, dsir_bucket_counts(bib))


def _dsir_weights_sql() -> str:
    from dataengineering_spark.operators.sampling import sample_hash_sql

    bucket = f"{sample_hash_sql('bg', DSIR_SALT)} % {DSIR_BUCKETS}"
    return f"""
WITH w AS (
  SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents
),
bib AS (
  SELECT doc_id, lang,
    CAST({bucket} AS BIGINT) AS bucket
  FROM (
    SELECT doc_id, lang, ws[t.i] || ' ' || ws[t.i + 1] AS bg
    FROM w, UNNEST(generate_series(1, len(ws) - 1)) AS t(i))
),
raw_b AS (SELECT bucket, COUNT(*) AS raw_cnt FROM bib GROUP BY bucket),
tgt_b AS (
  SELECT bucket, COUNT(*) AS tgt_cnt FROM bib
  WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY bucket
),
tot AS (
  SELECT COUNT(*) AS raw_tot,
    SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS tgt_tot
  FROM bib
),
probs AS (
  SELECT r.bucket,
    CAST(floor(
      (CAST(COALESCE(t.tgt_cnt, 0) + 1 AS DOUBLE)
         / CAST(tot.tgt_tot + {DSIR_BUCKETS} AS DOUBLE)
       - CAST(r.raw_cnt + 1 AS DOUBLE)
         / CAST(tot.raw_tot + {DSIR_BUCKETS} AS DOUBLE))
      * {float(DSIR_SCALE)}) AS BIGINT) AS diff_fp
  FROM raw_b r LEFT JOIN tgt_b t ON r.bucket = t.bucket CROSS JOIN tot
),
doc_b AS (
  SELECT doc_id, bucket, COUNT(*) AS cnt FROM bib GROUP BY doc_id, bucket
),
scored AS (
  SELECT doc_id, SUM(cnt) AS n_bigrams, SUM(cnt * diff_fp) AS score_fp
  FROM doc_b JOIN probs ON doc_b.bucket = probs.bucket
  GROUP BY doc_id
)
SELECT d.doc_id,
  CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
  CAST(COALESCE(s.score_fp, 0) AS BIGINT) AS score_fp
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
"""


SQL_DSIR_WEIGHTS = _dsir_weights_sql()


# ===========================================================================
# Q: dsir_resample — the selection step of DSIR: keep the docs whose
# importance weight clears the global top-quartile cutoff, with
# per-source accounting (which sources the target distribution
# up-weights — the report a mixture designer reads). The cutoff is an
# EXACT global discrete percentile via the RangePartitioner pattern
# (operators/robust.global_discrete_pcts — a bounded driver pull of
# one value, never a SinglePartition window); the oracle replays the
# same floor(p·(n−1))+1 rank under (score_fp, doc_id) order.
# ===========================================================================

DSIR_SELECT_PCT = 0.75  # keep score_fp >= the p75 cutoff (top quartile)


def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineering_spark.caching import persist_tracked
    from dataengineering_spark.operators.robust import global_discrete_pcts

    docs = _docs(spark, sf_dir)
    bib = persist_tracked(dsir_bucket_frame(docs))
    weights = persist_tracked(
        dsir_scores(docs, bib, dsir_bucket_counts(bib))
    )
    cut = global_discrete_pcts(
        weights, "score_fp", "doc_id", [DSIR_SELECT_PCT], ["cut"]
    )["cut"]
    if cut is None:
        # empty corpus: no percentile exists; the grouped output below
        # is empty regardless, so any literal cutoff is unreachable
        cut = 0
    sel = F.col("score_fp") >= cut
    return (
        weights.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(sel.cast("long")).alias("n_selected"),
            F.sum(F.when(sel, F.col("score_fp")).otherwise(0)).alias(
                "sel_score_sum"
            ),
        )
        .withColumn("cutoff_fp", F.lit(int(cut)).cast("long"))
    )


def _dsir_resample_sql() -> str:
    return f"""
WITH w AS ({SQL_DSIR_WEIGHTS}),
ranked AS (
  SELECT doc_id, score_fp,
    ROW_NUMBER() OVER (ORDER BY score_fp, doc_id) AS rn,
    COUNT(*) OVER () AS n
  FROM w
),
cut AS (
  SELECT score_fp AS cutoff_fp FROM ranked
  WHERE rn = floor({DSIR_SELECT_PCT} * (n - 1)) + 1
)
SELECT d.source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN w.score_fp >= cut.cutoff_fp THEN 1 ELSE 0 END) AS BIGINT)
    AS n_selected,
  CAST(SUM(CASE WHEN w.score_fp >= cut.cutoff_fp THEN w.score_fp ELSE 0 END)
    AS BIGINT) AS sel_score_sum,
  CAST(cut.cutoff_fp AS BIGINT) AS cutoff_fp
FROM w JOIN documents d ON w.doc_id = d.doc_id CROSS JOIN cut
GROUP BY d.source, cut.cutoff_fp
"""


SQL_DSIR_RESAMPLE = _dsir_resample_sql()


# ===========================================================================
# Q: two_level_assign — the hierarchical coarse quantizer, driver-
# checkable. C1 super cells (flat Lloyd: the ivf_ann recipe) then C2
# sub-centroids per super cell via ONE grouped distributed Lloyd loop
# (operators/similarity._grouped_sub_train), composite cid =
# super·C2 + sub. This is SemDeDup's scale path: C ≈ N/1000 at N≥10M
# makes flat literal assignment architecturally dead (O(C) per-row
# work); the hierarchy gets C1·C2 effective cells for O(C1+C2).
# Every training step is deterministic (md5-ranked seeds, (d2, id)
# tie rule, 1e-6 fixed-point centroid sums), so the oracle unrolls
# both Lloyd loops as a CTE chain — the ivf_ann pattern, one level
# deeper.
# ===========================================================================

TL_C1, TL_C2, TL_ITERS = 4, 4, 2

# train-once/serve-many memo, same contract as _SEM_QUANTIZER_CACHE
_TL_QUANTIZER_CACHE: dict[tuple, tuple] = {}


def _tl_quantizer(spark: SparkSession, sf_dir: str) -> tuple:
    from dataengineering_spark.operators.similarity import (
        _spread_for_training,
        two_level_train_rows,
    )

    key = (spark.sparkContext.applicationId, sf_dir, TL_C1, TL_C2, TL_ITERS)
    rows = _TL_QUANTIZER_CACHE.get(key)
    if rows is None:
        e = _spread_for_training(
            _emb(spark, sf_dir).select(
                "vec_id", F.col("embedding").cast("array<double>").alias("v")
            )
        )
        rows = two_level_train_rows(e, TL_C1, TL_C2, TL_ITERS, DIM)
        _TL_QUANTIZER_CACHE[key] = rows
    return rows


def q_two_level_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineering_spark.operators.similarity import two_level_assign

    emb = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    super_rows, sub_by_super = _tl_quantizer(spark, sf_dir)
    return two_level_assign(emb, super_rows, sub_by_super, TL_C2).select(
        "vec_id", F.col("cid").cast("int").alias("cid")
    )


def _two_level_assign_sql(c1: int, c2: int, n_iters: int, dim: int) -> str:
    def dist2(v: str, c: str) -> str:
        return f"({_dd(v, v)} - 2*{_dd(v, c)} + {_dd(c, c)})"

    # super training + final super assignment ("cells") — the proven
    # flat chain
    joined, _cents = _cells_cte_chain(c1, n_iters, dim)
    ctes = [joined]
    # sub seeds: first c2 vectors per super cell by md5 rank
    ctes.append(f"""ssub0 AS (
  SELECT scid, rn - 1 AS sub, cv FROM (
    SELECT cid AS scid, v AS cv,
      ROW_NUMBER() OVER (PARTITION BY cid
                         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
    FROM cells) WHERE rn <= {c2}
)""")
    # grouped Lloyd: assign each training row within its OWN cell
    # (min by (d2, sub)), update on the 1e-6 fixed-point grid
    for i in range(n_iters):
        ctes.append(f"""sasg{i} AS (
  SELECT vec_id, cid, v, sub FROM (
    SELECT a.vec_id, a.cid, a.v, s.sub,
      ROW_NUMBER() OVER (PARTITION BY a.vec_id
                         ORDER BY {dist2('a.v', 's.cv')}, s.sub) AS rn
    FROM cells a JOIN ssub{i} s ON a.cid = s.scid) WHERE rn = 1
)""")
        ctes.append(f"""ssub{i + 1} AS (
  SELECT scid, sub, list(comp ORDER BY pos) AS cv FROM (
    SELECT cid AS scid, sub, pos,
      CAST(SUM(CAST(floor(v[pos] * 1000000.0) AS BIGINT)) AS DOUBLE)
        / (1000000.0 * COUNT(*)) AS comp
    FROM sasg{i}, range(1, {dim + 1}) t(pos)
    GROUP BY cid, sub, pos)
  GROUP BY scid, sub
)""")
    ctes.append(f"""final_sub AS (
  SELECT vec_id, sub FROM (
    SELECT a.vec_id, s.sub,
      ROW_NUMBER() OVER (PARTITION BY a.vec_id
                         ORDER BY {dist2('a.v', 's.cv')}, s.sub) AS rn
    FROM cells a JOIN ssub{n_iters} s ON a.cid = s.scid) WHERE rn = 1
)""")
    joined_ctes = ",\n".join(ctes)
    # LEFT JOIN + COALESCE: super cells with zero trained sub-centroids
    # fall back to sub 0, mirroring two_level_assign's otherwise()
    return f"""
WITH {joined_ctes}
SELECT a.vec_id, CAST(a.cid * {c2} + COALESCE(f.sub, 0) AS INT) AS cid
FROM cells a LEFT JOIN final_sub f ON a.vec_id = f.vec_id
"""


SQL_TWO_LEVEL_ASSIGN = _two_level_assign_sql(TL_C1, TL_C2, TL_ITERS, DIM)


# ===========================================================================
# Q: gopher_rules — rule-based document quality gate (Rae et al. 2021,
# arXiv:2112.11446 "Gopher" §A1.1, the filter suite C4/MassiveText-
# style pipelines run before any model-based scoring). Five rules,
# each INTEGER-EXACT so both engines agree bit-for-bit: ratio
# thresholds are restated as cross-multiplications (5·n_alpha ≥
# 4·n_words instead of n_alpha/n_words ≥ 0.8 — no division, no
# float). Complements quality_score (a continuous score) with the
# pass/fail gate a 100 TB pipeline actually filters on.
#
# Scale shape: one narrow map over documents (array ops on the word
# list) plus one explode→two-level aggregate for the top-word count —
# corpus-linear, no join wider than doc_id.
# ===========================================================================

GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 40, 100_000
GOPHER_STOPWORDS = ("the", "a", "of", "and", "to", "in")


def gopher_rules_frame(docs: DataFrame) -> DataFrame:
    """Per-document rule columns + ``keep`` for any (doc_id, text)
    frame — shared by the registry query and the streaming quality
    gate (streaming/curation.py), so stream == batch is the same
    expression by construction."""
    w = docs.select(
        "doc_id",
        F.when(
            F.length(F.trim(F.col("text"))) == 0,
            F.array().cast("array<string>"),
        )
        .otherwise(F.split(F.trim(F.col("text")), " "))
        .alias("_w"),
    )
    base = w.select(
        "doc_id",
        F.size("_w").alias("n_words"),
        F.coalesce(
            F.aggregate(
                F.transform("_w", lambda x: F.length(x)),
                F.lit(0),
                lambda acc, x: acc + x,
            ),
            F.lit(0),
        ).alias("sum_wlen"),
        F.size(F.filter("_w", lambda x: x.rlike("[a-z]"))).alias("n_alpha"),
        F.size(
            F.array_intersect(
                F.array_distinct("_w"),
                F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            )
        ).alias("n_stop"),
    )
    top = (
        w.select("doc_id", F.explode("_w").alias("wd"))
        .groupBy("doc_id", "wd")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_word_cnt"))
    )
    j = base.join(top, "doc_id", "left").na.fill(0, ["max_word_cnt"])
    r_wc = (F.col("n_words") >= GOPHER_MIN_WORDS) & (
        F.col("n_words") <= GOPHER_MAX_WORDS
    )
    r_mwl = (3 * F.col("n_words") <= F.col("sum_wlen")) & (
        F.col("sum_wlen") <= 10 * F.col("n_words")
    )
    r_alpha = 5 * F.col("n_alpha") >= 4 * F.col("n_words")
    r_stop = F.col("n_stop") >= 2
    r_rep = 5 * F.col("max_word_cnt") <= F.col("n_words")
    return j.select(
        "doc_id",
        F.col("n_words").cast("int").alias("n_words"),
        r_wc.alias("r_word_count"),
        r_mwl.alias("r_mean_word_len"),
        r_alpha.alias("r_alpha_ratio"),
        r_stop.alias("r_stopwords"),
        r_rep.alias("r_repetition"),
        (r_wc & r_mwl & r_alpha & r_stop & r_rep).alias("keep"),
    )


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gopher_rules_frame(_docs(spark, sf_dir))


def _gopher_rules_sql() -> str:
    stop = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    return f"""
WITH w AS (
  SELECT doc_id,
    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         ELSE string_split(trim(text), ' ') END AS ws
  FROM documents
),
base AS (
  SELECT doc_id,
    CAST(len(ws) AS INT) AS n_words,
    CAST(COALESCE(list_sum(list_transform(ws, x -> length(x))), 0) AS BIGINT)
      AS sum_wlen,
    CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS INT)
      AS n_alpha,
    CAST(len(list_intersect(list_distinct(ws), [{stop}])) AS INT) AS n_stop
  FROM w
),
top AS (
  SELECT doc_id, MAX(c) AS max_word_cnt FROM (
    SELECT doc_id, wd, COUNT(*) AS c
    FROM (SELECT doc_id, UNNEST(ws) AS wd FROM w) GROUP BY doc_id, wd)
  GROUP BY doc_id
)
SELECT b.doc_id, b.n_words,
  (b.n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
    AS r_word_count,
  (3 * b.n_words <= b.sum_wlen AND b.sum_wlen <= 10 * b.n_words)
    AS r_mean_word_len,
  (5 * b.n_alpha >= 4 * b.n_words) AS r_alpha_ratio,
  (b.n_stop >= 2) AS r_stopwords,
  (5 * COALESCE(t.max_word_cnt, 0) <= b.n_words) AS r_repetition,
  ((b.n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
   AND (3 * b.n_words <= b.sum_wlen AND b.sum_wlen <= 10 * b.n_words)
   AND (5 * b.n_alpha >= 4 * b.n_words)
   AND (b.n_stop >= 2)
   AND (5 * COALESCE(t.max_word_cnt, 0) <= b.n_words)) AS keep
FROM base b LEFT JOIN top t ON b.doc_id = t.doc_id
"""


SQL_GOPHER_RULES = _gopher_rules_sql()


# ===========================================================================
# Q: curriculum_order — deterministic interleaved training order: rank
# documents within each source (longest-first, the simple curriculum
# heuristic), then round-robin across sources so no contiguous run of
# shards is single-source — the ordering pass a pretraining pipeline
# runs between selection and sharding. position = rank·S + source_idx
# is collision-free by construction and needs NO global window: the
# source list and S are bounded driver state (#sources) inlined as a
# broadcast dim + literal, the rank is a per-source window (bounded by
# the largest source), and the oracle replays the same arithmetic.
# ===========================================================================


def curriculum_positions(
    docs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    size_col: str = "n_chars",
) -> DataFrame:
    """(id, position) round-robin curriculum interleave over any frame
    carrying (id, source, size) — the builder behind the
    ``curriculum_order`` registry query, shared by the streaming
    drain-time finisher (streaming/curation.curation_finish with
    ``ordered=True``). position = within-source longest-first rank · S
    + source index; the only collect is the bounded source list."""
    from pyspark.sql import Window

    spark = docs.sparkSession
    srcs = sorted(
        r[0] for r in docs.select(source_col).distinct().collect()
    )
    ns = len(srcs)
    sidx = spark.createDataFrame(
        [(s, i) for i, s in enumerate(srcs)] or [("", 0)],
        f"{source_col} string, sidx int",
    )
    if not srcs:
        sidx = sidx.filter(F.lit(False))
    w = Window.partitionBy(source_col).orderBy(
        F.col(size_col).desc(), F.col(id_col).asc()
    )
    return (
        docs.select(id_col, source_col, size_col)
        .withColumn("rnk", F.row_number().over(w) - 1)
        .join(F.broadcast(sidx), source_col)
        .select(
            id_col,
            (F.col("rnk") * F.lit(ns) + F.col("sidx"))
            .cast("long")
            .alias("position"),
        )
    )


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curriculum_positions(_docs(spark, sf_dir))


SQL_CURRICULUM_ORDER = """
WITH s AS (
  SELECT source, CAST(ROW_NUMBER() OVER (ORDER BY source) - 1 AS INT) AS sidx
  FROM (SELECT DISTINCT source FROM documents)
),
n AS (SELECT COUNT(*) AS ns FROM s),
r AS (
  SELECT doc_id, source,
    ROW_NUMBER() OVER (PARTITION BY source
                       ORDER BY n_chars DESC, doc_id) - 1 AS rnk
  FROM documents
)
SELECT r.doc_id, CAST(r.rnk * n.ns + s.sidx AS BIGINT) AS position
FROM r JOIN s ON r.source = s.source CROSS JOIN n
"""


# ===========================================================================
# Q: semantic_reps_incremental — the representatives-only incremental
# ingest join (r13, VERDICT r12 #2) as a driver-checkable query: epoch
# 1 (even vec_ids) builds within-cell threshold pairs, the pair set is
# contracted to its spanning forest (the pair-store compaction lane,
# streaming.curation.pairs_to_forest_frame), components are labeled and
# every NON-ROOT member leaves the join index; epoch 2 (odd vec_ids)
# then pairs within itself plus against the REPS index only — one row
# per known component instead of every accumulated member (per-epoch
# join volume O(#components), the 100 TB ingest-loop shape).  Final
# labels are connected components over forest ∪ epoch-2 pairs.  The
# oracle replays the identical two-stage recursive closure over the
# full pair sets (the forest is CC-equivalent to epoch 1's pairs by
# construction), so a drift anywhere in the contraction / reps /
# incremental-join lane ranks red at the driver instead of hiding
# behind pytest-only evidence.
# Reference parity: the reference's dedup maintenance is a DELETE-and-
# reload sweep (clickhouse/v1/operator.py:440-499); this query is the
# engine's scale path for the same maintenance contract.
# ===========================================================================

def q_semantic_reps_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineering_spark.operators.dedup import (
        connected_components,
        semantic_candidate_pairs,
    )
    from dataengineering_spark.streaming.curation import pairs_to_forest_frame
    from dataengineering_spark.streaming.semdedup import _batch_cells

    from dataengineering_spark.caching import persist_tracked

    emb = _emb(spark, sf_dir)
    cent_rows = _sem_cent_rows(spark, sf_dir)
    # ONE assign pass (r14, VERDICT r13 #8): the quantizer assign is a
    # deterministic per-row map, so assigning ALL vectors once and
    # deriving each epoch by a parity filter of the persisted frame is
    # value-identical to the two per-epoch assigns the r13 shape ran —
    # one embeddings scan + one literal-CASE assign instead of two of
    # each, and one persist materialization job instead of two.  The
    # cell frames still feed two consumers each (cells1: epoch-1 pairs
    # + the reps index; cells2: intra-epoch pairs + the reps join).
    cells_all = persist_tracked(
        _batch_cells(emb, cent_rows, "vec_id", "embedding")
    )
    cells1 = cells_all.filter(F.col("vec_id") % 2 == 0)
    cells2 = cells_all.filter(F.col("vec_id") % 2 == 1)
    # the epoch-1 pair join is read by the forest sizing count AND the
    # contraction pass — persist so the within-cell scoring join runs
    # once (connected_components' own persist discipline)
    pairs1 = persist_tracked(
        semantic_candidate_pairs(cells1, threshold=SEM_THRESHOLD)
    )
    forest, _passes = pairs_to_forest_frame(
        pairs1.select(
            F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
        )
    )
    forest_pairs = forest.filter(F.col("src") != F.col("dst"))
    comp1 = connected_components(forest_pairs, id_a="src", id_b="dst")
    nonroots = comp1.filter(F.col("doc_id") != F.col("component")).select(
        F.col("doc_id").alias("vec_id")
    )
    reps_cells = cells1.join(nonroots, "vec_id", "left_anti")
    pairs2 = semantic_candidate_pairs(
        cells2, threshold=SEM_THRESHOLD
    ).unionByName(
        semantic_candidate_pairs(
            cells2, index=reps_cells, threshold=SEM_THRESHOLD
        )
    )
    all_pairs = forest_pairs.select(
        F.col("src").alias("vec_a"), F.col("dst").alias("vec_b")
    ).unionByName(pairs2)
    return connected_components(all_pairs, id_a="vec_a", id_b="vec_b").select(
        F.col("doc_id").alias("vec_id"), "component"
    )


def _semantic_reps_incremental_sql(
    n_centroids: int, n_iters: int, dim: int, threshold: float
) -> str:
    """Two-stage recursive closure: epoch-1 components over even-id
    within-cell pairs, non-roots leave the index, epoch-2 pairs are
    intra-odd plus odd×reps, final closure over the union.  The Spark
    side runs the forest contraction between the stages; the oracle
    uses epoch 1's raw pairs — CC-equivalent by construction, same
    node set (every ≥2-node component keeps all members as forest
    rows)."""
    dd = _dd
    joined, _cents = _cells_cte_chain(n_centroids, n_iters, dim)
    cos_cond = (
        f"{dd('a.v', 'b.v')} >= {threshold} * "
        f"sqrt({dd('a.v', 'a.v')} * {dd('b.v', 'b.v')})"
    )
    cos_cond_reps = (
        f"{dd('a.v', 'r.v')} >= {threshold} * "
        f"sqrt({dd('a.v', 'a.v')} * {dd('r.v', 'r.v')})"
    )
    return f"""
WITH RECURSIVE {joined},
p1 AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM cells a JOIN cells b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 0 AND {cos_cond}
),
e1 AS (
  SELECT vec_a AS src, vec_b AS dst FROM p1
  UNION SELECT vec_b AS src, vec_a AS dst FROM p1
),
r1 AS (
  SELECT src, dst FROM e1
  UNION
  SELECT r.src, e.dst FROM r1 r JOIN e1 e ON r.dst = e.src
),
nonroots AS (
  SELECT src AS vec_id FROM r1 GROUP BY src HAVING MIN(dst) < src
),
p2 AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM cells a JOIN cells b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE a.vec_id % 2 = 1 AND b.vec_id % 2 = 1 AND {cos_cond}
  UNION
  SELECT LEAST(a.vec_id, r.vec_id) AS vec_a,
         GREATEST(a.vec_id, r.vec_id) AS vec_b
  FROM cells a JOIN cells r ON a.cid = r.cid
  WHERE a.vec_id % 2 = 1 AND r.vec_id % 2 = 0
    AND r.vec_id NOT IN (SELECT vec_id FROM nonroots)
    AND {cos_cond_reps}
),
alle AS (
  SELECT vec_a AS src, vec_b AS dst FROM p1
  UNION SELECT vec_b AS src, vec_a AS dst FROM p1
  UNION SELECT vec_a AS src, vec_b AS dst FROM p2
  UNION SELECT vec_b AS src, vec_a AS dst FROM p2
),
ra AS (
  SELECT src, dst FROM alle
  UNION
  SELECT r.src, e.dst FROM ra r JOIN alle e ON r.dst = e.src
)
SELECT src AS vec_id, LEAST(src, MIN(dst)) AS component
FROM ra GROUP BY src
"""


SQL_SEMANTIC_REPS_INCREMENTAL = _semantic_reps_incremental_sql(
    SEM_C, SEM_ITERS, DIM, SEM_THRESHOLD
)


CURATION_QUERIES = {
    "semantic_reps_incremental": (
        q_semantic_reps_incremental,
        SQL_SEMANTIC_REPS_INCREMENTAL,
        "curation:representatives-only incremental dedup join",
    ),
    "curriculum_order": (
        q_curriculum_order,
        SQL_CURRICULUM_ORDER,
        "curation:round-robin curriculum ordering",
    ),
    "gopher_rules": (
        q_gopher_rules,
        SQL_GOPHER_RULES,
        "curation:Gopher rule-based quality gate",
    ),
    "two_level_assign": (
        q_two_level_assign,
        SQL_TWO_LEVEL_ASSIGN,
        "curation:two-level coarse quantizer assignment",
    ),
    "semantic_dedup": (
        q_semantic_dedup,
        SQL_SEMANTIC_DEDUP,
        "curation:SemDeDup embedding dedup",
    ),
    "dsir_weights": (
        q_dsir_weights,
        SQL_DSIR_WEIGHTS,
        "curation:DSIR importance weights",
    ),
    "semantic_cell_stats": (
        q_semantic_cell_stats,
        SQL_SEMANTIC_CELL_STATS,
        "curation:SemDeDup hot-cell cap accounting",
    ),
    "semantic_survivors": (
        q_semantic_survivors,
        SQL_SEMANTIC_SURVIVORS,
        "curation:SemDeDup surviving corpus",
    ),
    "dsir_resample": (
        q_dsir_resample,
        SQL_DSIR_RESAMPLE,
        "curation:DSIR top-quartile selection",
    ),
}
