"""Approximate deduplication for document corpora at scale:
MinHash+LSH, SimHash, and n-gram Jaccard verification.

Design for 100 TB:
- Signatures are computed per-row with nested JVM array expressions
  (``transform``/``aggregate`` higher-order functions) — no Python
  UDFs, no explode of shingles, so a doc never becomes 40+ shuffle
  rows during signature computation.
- The only shuffle is the LSH band self-join, keyed on
  ``(band_id, band_sig)`` — exactly the candidate-generation join of
  the standard MinHash-LSH scheme, and the smallest possible shuffle
  payload (doc_id + 32-char sig per band).
- Hashing is one md5 per shingle + k integer permutations mod 2^31-1
  (the classic one-hash MinHash), so the DuckDB oracle reproduces the
  values bit-for-bit while md5 cost is independent of num_hashes.

The pandas/driver reference has no near-dup capability at all; this
is north-star surface (BASELINE.json) built Spark-first.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataengineering_spark.functions.text import normalize_text

DEFAULT_NUM_HASHES = 16
DEFAULT_BANDS = 4
DEFAULT_SHINGLE = 3

# Classic one-hash MinHash: a single base hash v per shingle, then k
# independent permutations h_k(v) = (a_k * v + b_k) mod P. With
# P = 2^31 - 1 and v, a_k < P the product stays < 2^62, so BIGINT
# arithmetic is exact (and identical) in Spark and DuckDB — md5 runs
# ONCE per shingle instead of once per (shingle, k).
MINHASH_PRIME = 2_147_483_647  # 2^31 - 1 (Mersenne)


def minhash_perm_constants(num_hashes: int = DEFAULT_NUM_HASHES) -> tuple[list[int], list[int]]:
    """Deterministic (a_k, b_k) permutation constants, derived from md5
    in Python so both engines consume them as plain integer literals."""
    a = [
        int(hashlib.md5(f"mh-a|{k}".encode()).hexdigest()[:8], 16)
        % (MINHASH_PRIME - 1)
        + 1
        for k in range(num_hashes)
    ]
    b = [
        int(hashlib.md5(f"mh-b|{k}".encode()).hexdigest()[:8], 16) % MINHASH_PRIME
        for k in range(num_hashes)
    ]
    return a, b


def _base_hash(shingle: Column) -> Column:
    """v = (first 8 hex chars of md5 as an integer) mod P — the single
    per-shingle hash every permutation derives from."""
    return (
        F.conv(F.substring(F.md5(shingle), 1, 8), 16, 10).cast("long")
        % MINHASH_PRIME
    )


# spread_for_compute moved to operators.topology (r13): it is
# compute-topology plumbing, not dedup logic, and keeping it here made
# every fan-out consumer drift on dedup-engine edits. Re-exported for
# the existing import sites; drift signatures resolve the symbol to its
# defining module, so those sites now (correctly) track topology.py.
from dataengineering_spark.operators.topology import spread_for_compute  # noqa: E402,F401


def shingles(text: Column | str, n: int = DEFAULT_SHINGLE) -> Column:
    """Distinct word n-gram shingles of the normalized text. Short
    docs (< n words) contribute their whole text as one shingle."""
    words = F.split(normalize_text(text), " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(words) - n),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
    )
    whole = F.array(F.concat_ws(" ", words))
    return F.array_distinct(F.when(F.size(words) < n, whole).otherwise(grams))


def minhash_signature(shingle_col: Column, num_hashes: int = DEFAULT_NUM_HASHES) -> Column:
    """MinHash signature as an array<bigint>: element k is
    ``min over shingles of (a_k * v(shingle) + b_k) mod P`` with
    v = first-8-hex-chars of md5 (one md5 per shingle, shared by all k).

    NOTE: this column form evaluates as an interpreted higher-order
    function — fine for small frames, but the hot path is
    ``minhash_signatures`` below, which computes the identical values
    through whole-stage codegen and a single aggregation."""
    a, b = minhash_perm_constants(num_hashes)
    a_lit = F.array(*[F.lit(x).cast("long") for x in a])
    b_lit = F.array(*[F.lit(x).cast("long") for x in b])
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda k: F.array_min(
            F.transform(
                shingle_col,
                lambda s: (
                    F.element_at(a_lit, k + 1) * _base_hash(s)
                    + F.element_at(b_lit, k + 1)
                )
                % MINHASH_PRIME,
            )
        ),
    )


def exploded_shingles(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """(id, shingle) rows, fully codegen: words via split, n-grams via
    arrays_zip of shifted slices (no lambda anywhere — interpreted
    higher-order functions cost ~2 ms/element and were the measured
    bottleneck of the LSH pipeline). Duplicate shingles are NOT
    removed here: min-hash is duplicate-insensitive and Jaccard
    callers build sets with collect_set."""
    words = F.split(normalize_text(text_col), " ")
    # r14: the spread_for_compute fan-out is REMOVED here.  Alternating
    # A/Bs at sf0.1 (identical outputs asserted): minhash_signatures
    # 1.58 -> 1.24 s median, full minhash_lsh_pairs 2.21 -> 1.75 s —
    # the round-robin exchange ships the full text payload and splits
    # the codegen pipeline just to parallelize per-row work the single
    # scan task finishes faster, and the groupBy that follows
    # redistributes anyway.  At production split counts the fan-out
    # was a no-op; for mid-scale single-file probes where the serial
    # scan would dominate, spread at the call site explicitly.
    d = docs.select(F.col(id_col), words.alias("w"))
    shifted = [
        F.slice(F.col("w"), i + 1, F.greatest(F.size("w") - i, F.lit(0))).alias(
            f"g{i}"
        )
        for i in range(1, n)
    ]
    # aliasing every zip input fixes the struct field names up front —
    # the previous `grams.schema[...]` probe cost one full analysis
    # pass of the pipeline just to learn them (measured driver-side
    # latency on the LSH path)
    zipped = F.arrays_zip(F.col("w").alias("g0"), *shifted)
    grams = d.select(id_col, F.explode(zipped).alias("z"))
    parts = [F.col("z").getField(f"g{i}") for i in range(n)]
    full = grams.filter(parts[-1].isNotNull()).select(
        id_col, F.concat_ws(" ", *parts).alias("shingle")
    )
    short = (
        d.filter(F.size("w") < n)
        .select(id_col, F.concat_ws(" ", F.col("w")).alias("shingle"))
    )
    return full.unionByName(short)


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle_n: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """(id, signature) via the codegen path: one md5 per exploded
    shingle row (whole-stage codegen — interpreted HOF lambdas cost
    ~2 ms/element), then ONE aggregation computing all k permutation
    mins as separate agg columns. No k-fold row multiplication, no
    second shuffle: hash-agg partials combine map-side, so shuffle
    volume is docs x num_hashes bigints regardless of document length.

    Scale shape at 100 TB: the only wide op is a single groupBy(id)
    whose payload per doc is num_hashes x 8 bytes — strictly smaller
    than the previous (doc, k)-row scheme and 16x fewer md5 calls."""
    a, b = minhash_perm_constants(num_hashes)
    base = exploded_shingles(docs, id_col, text_col, shingle_n).select(
        id_col, _base_hash(F.col("shingle")).alias("v")
    )
    # One parsed expression per agg column instead of ~6 Py4J Column
    # ops each: the Python expression-tree build was a measured chunk
    # of the LSH pipeline's driver-side latency.
    mins = base.groupBy(id_col).agg(
        *[
            F.expr(f"min(({a[k]}L * v + {b[k]}L) % {MINHASH_PRIME}L) AS h{k}")
            for k in range(num_hashes)
        ]
    )
    sig = ", ".join(f"h{k}" for k in range(num_hashes))
    return mins.select(id_col, F.expr(f"array({sig}) AS signature"))


def lsh_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "signature",
    bands: int = DEFAULT_BANDS,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """Explode a signature into (id, band_id, band_sig) rows — the LSH
    bucketing key. band_sig is md5 of the band's comma-joined values
    (bigints rendered as decimal strings, identically in DuckDB)."""
    rows_per_band = num_hashes // bands
    band_ids = F.sequence(F.lit(0), F.lit(bands - 1))
    banded = df.select(
        F.col(id_col),
        F.explode(
            F.transform(
                band_ids,
                lambda b: F.struct(
                    b.alias("band_id"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(
                                    F.col(sig_col), b * rows_per_band + 1, rows_per_band
                                ),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("band_sig"),
                ),
            )
        ).alias("band"),
    )
    return banded.select(id_col, "band.band_id", "band.band_sig")


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = DEFAULT_SHINGLE,
    max_bucket_size: int | None = None,
    materialize: bool = False,
    cap_policy: str = "drop",
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via MinHash-LSH.

    Signatures come from the codegen path (``minhash_signatures``);
    the band frame is persisted (lazily — persist alone is enough for
    Catalyst to plan an InMemoryRelation, so the signature pipeline is
    NOT re-inlined into both join aliases, and the single downstream
    action materializes it exactly once). The cached frame is O(docs x
    bands x 32 chars): tiny relative to the corpus at any scale.

    ``materialize=True`` runs that action here (count on the pair
    frame, which is persisted and returned) and then unpersists the
    band frame — callers that keep the pairs get a leak-free session.
    With ``materialize=False`` (lazy), the band frame stays persisted
    for the session; cluster-lifetime jobs should prefer the eager
    form.

    ``max_bucket_size`` is the 100 TB safety valve: a bucket of n docs
    yields n^2/2 candidate pairs, so one adversarial bucket (boiler-
    plate, empty docs, template spam) can dominate the whole join.
    ``cap_policy`` picks what happens to buckets over the cap, BEFORE
    the self-join (window over the band frame — no extra shuffle since
    it reuses the join's own (band_id, band_sig) partitioning):

    - ``"drop"`` (default): the whole hot bucket is dropped. Its docs
      still pair through their other bands; recall loss is bounded and
      the quadratic blowup is gone.
    - ``"sample"``: keep a deterministic ``max_bucket_size``-doc sample
      of the hot bucket (rank by md5(id), tie id — engine-portable and
      stable across runs/partitionings), so mega-clusters keep a
      representative cap²/2 pair wedge instead of vanishing from this
      band entirely. Kept-pair count per bucket is bounded by cap²/2.

    Neither policy is silent: ``lsh_bucket_stats`` reports per-band
    bucket/doc/pair drop accounting for the SAME cap, and the
    lsh_bucket_accounting registry query oracle-checks it. None (the
    default, used by the oracle-checked pair query) keeps every
    bucket."""
    sigs = minhash_signatures(docs, id_col, text_col, num_hashes, shingle_n)
    b = lsh_bands(sigs, id_col=id_col, bands=bands, num_hashes=num_hashes)
    if max_bucket_size is not None:
        from pyspark.sql import Window

        if cap_policy not in ("drop", "sample"):
            raise ValueError(f"cap_policy must be drop|sample, got {cap_policy!r}")
        w = Window.partitionBy("band_id", "band_sig")
        if cap_policy == "drop":
            b = (
                b.withColumn("bucket_n", F.count(F.lit(1)).over(w))
                .filter(F.col("bucket_n") <= max_bucket_size)
                .drop("bucket_n")
            )
        else:
            rk = F.row_number().over(
                w.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
            )
            b = (
                b.withColumn("bucket_rk", rk)
                .filter(F.col("bucket_rk") <= max_bucket_size)
                .drop("bucket_rk")
            )
    b = b.persist()
    left = b.alias("a")
    right = b.alias("b")
    pairs = (
        left.join(
            right,
            on=[
                F.col("a.band_id") == F.col("b.band_id"),
                F.col("a.band_sig") == F.col("b.band_sig"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )
    if materialize:
        pairs = pairs.persist()
        pairs.count()  # one job: signatures -> band cache -> join -> pairs
        b.unpersist()
    return pairs


def lsh_bucket_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = DEFAULT_SHINGLE,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Per-band accounting for the ``max_bucket_size`` hot-bucket cap —
    the no-silent-caps companion to ``minhash_lsh_pairs``: before
    anyone runs a capped dedup, this reports exactly what the cap
    would cost.

    One row per band_id: total buckets, buckets over the cap, docs in
    hot buckets, candidate pairs inside hot buckets (``n*(n-1)/2`` —
    what the ``"drop"`` policy forfeits in this band), and the pairs a
    ``"sample"`` policy would keep (``cap*(cap-1)/2`` per hot bucket).
    Runs entirely on the band frame grouped by its own join key — the
    aggregate is O(#buckets), never materializing any pair."""
    sigs = minhash_signatures(docs, id_col, text_col, num_hashes, shingle_n)
    b = lsh_bands(sigs, id_col=id_col, bands=bands, num_hashes=num_hashes)
    buckets = b.groupBy("band_id", "band_sig").agg(
        F.count(F.lit(1)).alias("n")
    )
    hot = F.col("n") > max_bucket_size
    kept_per_hot = max_bucket_size * (max_bucket_size - 1) // 2
    return (
        buckets.groupBy("band_id")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(hot.cast("long")).alias("n_hot_buckets"),
            F.sum(F.when(hot, F.col("n")).otherwise(0)).alias("docs_in_hot"),
            F.sum(
                F.when(hot, F.col("n") * (F.col("n") - 1) / 2).otherwise(0)
            )
            .cast("long")
            .alias("pairs_in_hot"),
            F.sum(F.when(hot, F.lit(kept_per_hot)).otherwise(0))
            .cast("long")
            .alias("pairs_kept_if_sampled"),
        )
        .orderBy("band_id")
    )


def jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (verification stage of
    the LSH pipeline). ``pairs`` has columns doc_a, doc_b.

    Cache lifetime: the shingle-set frame is persisted lazily so the
    plan references one InMemoryRelation from both join sides; it is
    materialized by whatever action consumes the returned frame and
    stays cached for the session (storage is O(docs x shingle sets)).
    Long-lived sessions re-running the dedup suite should call
    ``spark.catalog.clearCache()`` or unpersist via the returned
    frame's lineage between runs."""
    sh = (
        exploded_shingles(docs, id_col, text_col, shingle_n)
        .groupBy(id_col)
        .agg(F.collect_set("shingle").alias("sh"))
        .persist()  # referenced by both sides of the pair join
    )
    a = sh.select(F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("doc_b"), F.col("sh").alias("sh_b"))
    joined = pairs.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return joined.select(
        "doc_a",
        "doc_b",
        (inter.cast("double") / union.cast("double")).alias("jaccard"),
    )


def _driver_union_find(rows: list) -> dict[int, int]:
    """Path-compressed union-find over (a, b) tuples; returns the
    node -> min-member-of-set labeling (the identical fixpoint the
    distributed paths converge to). Shared by the small-graph driver
    gate and the contracted-forest endgame."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a_val, b_val in rows:
        for n in (a_val, b_val):
            if n not in parent:
                parent[n] = n
        ra, rb = find(a_val), find(b_val)
        if ra != rb:
            parent[ra] = rb
    set_min: dict[int, int] = {}
    for n in parent:
        r = find(n)
        if r not in set_min or n < set_min[r]:
            set_min[r] = n
    return {n: set_min[find(n)] for n in parent}


# _partition_forest holds one partition's full edge arrays in task
# memory (16 B/edge + node-index arrays): ~8M edges ≈ 250 MB peak is
# the documented per-task contract; repartition targets 4M for slack.
_FOREST_PASS1_MAX_PER_PART = 8_000_000
_FOREST_TARGET_EDGES_PER_PART = 4_000_000


def _partition_forest(edges: DataFrame) -> DataFrame:
    """Per-partition SPANNING FOREST via local union-find — the
    contraction step of the unbroadcastable-CC path (Kiveris et al.
    SoCC'14 §6 'local contraction'; also Rastogi et al.'s
    hash-to-min preprocessing). mapInPandas streams each partition's
    edge batches through one union-find and emits (node, root) star
    edges — exactly one row per distinct node in the partition, with
    roots as explicit (node, node) self-rows (r11) so the forest
    carries the COMPLETE node set and downstream never re-scans the
    pair frame for it. Connectivity-equivalent to the partition's
    full edge set: the union of per-partition spanning forests has
    exactly the original graph's connected components, so downstream
    rounds operate on a forest-sized frame — O(Σ_p |V_p|), independent
    of the pair density that makes dense dedup graphs |E| >> |V|. No
    join, no shuffle: one scan of the edge frame wherever it already
    lives — and for the star engine it is the ONLY pass over the pair
    frame (the r11 sf100 phase decomposition measured the removed
    second pass, the labels-from-pairs distinct, at 1820 s of 2750 s).

    Executor memory contract: the whole partition's edge arrays are
    held at once (16 B/edge + the node-index arrays), so size input
    partitions accordingly — at the default 128 MB parquet split
    that's ~8M edges ≈ 250 MB peak per task, well inside any sane
    executor; a pathological single-partition frame must be
    repartitioned first — ``connected_components`` does this for BOTH
    the first pass (when avg edges/partition exceeds 8M) and the
    re-contraction loop (4M target); direct callers own pass-1 sizing.
    Ids must already be int64.
    """
    import numpy as np
    import pandas as pd

    def gen(batches):
        srcs: list = []
        dsts: list = []
        for pdf in batches:
            srcs.append(pdf["src"].to_numpy(dtype="int64", copy=False))
            dsts.append(pdf["dst"].to_numpy(dtype="int64", copy=False))
        if not srcs:
            yield pd.DataFrame(
                {
                    "src": pd.Series([], dtype="int64"),
                    "dst": pd.Series([], dtype="int64"),
                }
            )
            return
        s = np.concatenate(srcs)
        d = np.concatenate(dsts)
        # dense-index the node ids; np.unique sorts, so index order ==
        # id order and the min-index hook below lands on the MIN ID —
        # partition forests come out already star-shaped at their
        # local minima, which shortens the downstream star rounds.
        nodes, inv = np.unique(np.concatenate([s, d]), return_inverse=True)
        a = inv[: len(s)]
        b = inv[len(s):]
        parent = np.arange(len(nodes), dtype=np.int64)
        # vectorized min-hook + pointer jumping (Shiloach-Vishkin
        # shape): each sweep hooks every edge's larger root onto the
        # smaller, then fully compresses paths — O(log n) sweeps of
        # O(|E_p|) numpy work, no per-row Python.
        while True:
            pa = parent[a]
            pb = parent[b]
            if bool(np.all(pa == pb)):
                break
            lo = np.minimum(pa, pb)
            np.minimum.at(parent, pa, lo)
            np.minimum.at(parent, pb, lo)
            while True:
                pp = parent[parent]
                if bool(np.all(pp == parent)):
                    break
                parent = pp
        # roots come out as explicit (n, n) self-rows, so the forest
        # carries the partition's COMPLETE node set (r11): downstream
        # derives nodes from the forest instead of re-scanning the
        # pair frame — the r11 sf100 phase decomposition measured that
        # second scan at 1820 s of the 2750 s total. Self-rows pass
        # re-contraction unchanged (a (n, n) row is a self-loop: no-op
        # union, node still emitted as its own root) and the star
        # rounds filter src != dst, so only the node-set bookkeeping
        # sees them.
        yield pd.DataFrame(
            {
                "src": pd.Series(nodes, dtype="int64"),
                "dst": pd.Series(nodes[parent], dtype="int64"),
            }
        )

    return edges.select("src", "dst").mapInPandas(gen, "src long, dst long")


def _star_round(e: DataFrame) -> DataFrame:
    """One large-star + small-star round over a canonical (src > dst),
    distinct edge frame; returns the next round's canonical distinct
    edge set (unpersisted — the loop owns caching). Factored out so the
    plan-shape regression can pin ONE round's physical plan (the eager
    materialization in :func:`_star_rounds` hides it behind a
    LogicalRDD scan)."""
    # ---- large-star: (v, m) for every neighbor v > u -----------
    both = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    lmins = both.groupBy("src").agg(
        F.min("dst").alias("_mn")
    ).select(
        F.col("src").alias("_u"),
        F.least(F.col("src"), F.col("_mn")).alias("_m"),
    )
    large = (
        both.join(lmins, both.src == F.col("_u"))
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    # ---- small-star: (v, m) for smaller neighbors + (u, m) -----
    smins = large.groupBy("src").agg(F.min("dst").alias("_m"))
    children = (
        large.join(smins, "src")
        .filter(F.col("dst") != F.col("_m"))
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
    )
    selves = smins.select("src", F.col("_m").alias("dst"))
    return (
        children.unionByName(selves)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _sig_fixpoint(old: tuple, new: tuple) -> bool:
    """True iff a star round left the edge set unchanged, judged by the
    (count, Σ xxhash64) signature pair.  A NULL hash sum — DECIMAL(38,0)
    overflow with ANSI off, or sum() over zero rows — is treated as NOT
    EQUAL to anything including another NULL, so overflow degrades to
    extra rounds rather than a count-only false fixpoint (ADVICE r11).
    The one legitimate NULL==NULL case is two EMPTY edge sets, which is
    trivially a fixpoint.
    """
    if old[0] == 0 and new[0] == 0:
        return True
    return old[1] is not None and new[1] is not None and old == new


def _star_rounds(
    edges: DataFrame,
    max_iterations: int = 50,
    checkpoint_every: int = 2,
    telemetry: dict | None = None,
) -> DataFrame:
    """Alternating LARGE-STAR / SMALL-STAR rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14, Alg. 3
    'two-phase') to the star-forest fixpoint; returns (doc_id,
    component) with component = min id of the node's component.

    Each round's shuffle is bounded by the CURRENT edge frame — which
    enters forest-sized (O(|V|), via _partition_forest) and only
    shrinks, because both operations strictly reduce tree heights
    toward stars. Per round:

    - large-star: every node u computes m = min(Γ(u) ∪ {u}) and
      re-parents its LARGER neighbors v > u onto m — long chains halve.
    - small-star: every node u (edges oriented big→small) re-parents
      its smaller neighbors AND itself onto m = min of the small side
      — bushy trees flatten.

    Both preserve connectivity (every re-parented edge (v, m) has v
    and m already connected through u) and never create a new minimum,
    so the fixpoint — every component a star centered at its min id —
    is exactly the min-reachable-id labeling. Convergence is O(log^2 n)
    rounds in the worst case, O(log n) observed. Edges stay canonical
    (src > dst) throughout; per-round distinct is forest-sized.
    Lineage is cut with localCheckpoint every ``checkpoint_every``
    rounds.

    Fixpoint detection (r11): the edge sets are distinct and canonical,
    so set equality reduces to equal (count, Σ xxhash64(src,dst)) — ONE
    aggregate job per round on the forest-sized frame, replacing the
    r10 count + ``exceptAll().isEmpty()`` pair (the set-difference was
    a second full shuffle of both frames whenever counts matched). The
    hash sum runs in DECIMAL(38,0) (no overflow below ~10^18 rows); a
    false fixpoint needs a 64-bit hash-sum collision between two
    same-sized edge sets of the SAME monotone round sequence —
    vanishing, and the differential fuzz suite cross-checks the
    labeling against the driver union-find regardless.  Should the
    DECIMAL(38,0) sum ever overflow (ANSI off -> NULL), a NULL hash is
    treated as NOT EQUAL to anything, including another NULL — overflow
    degrades to extra rounds (running to max_iterations), never to a
    count-only false fixpoint (ADVICE r11).

    Returns an eagerly-materialized (localCheckpoint) frame and
    releases every persist it took, so callers hold no cached-frame
    references (ADVICE r10: the final round's persisted edge frame
    used to leak per call).
    """
    def _stats(frame: DataFrame) -> tuple:
        row = frame.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.xxhash64("src", "dst").cast("decimal(38,0)")
            ).alias("h"),
        ).first()
        return (row["n"], row["h"])

    e = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .distinct()
        .persist()
    )
    sig = _stats(e)
    # convergence telemetry rides the aggregates the fixpoint check
    # already runs (VERDICT r11 #7): edge-count trajectory + rounds to
    # fixpoint, so convergence regressions are visible in probe JSON
    # without any extra job.
    traj = [sig[0]]
    converged = False
    for _round in range(max_iterations):
        new_e = _star_round(e).persist()
        new_sig = _stats(new_e)
        traj.append(new_sig[0])
        # fixpoint: the (distinct, canonical) edge set is unchanged.
        # new ⊆ old is NOT enough (a shrink is still progress), so
        # equality = equal counts AND equal order-insensitive hash sum
        # (one aggregate — see the docstring's fixpoint note).  NULL
        # hash handling lives in _sig_fixpoint (ADVICE r11).
        if _sig_fixpoint(sig, new_sig):
            new_e.unpersist()
            converged = True
            break
        e.unpersist()
        e = new_e
        sig = new_sig
        if checkpoint_every and (_round + 1) % checkpoint_every == 0:
            truncated = e.localCheckpoint(eager=True)
            e.unpersist()
            e = truncated
            # reap dereferenced shuffle files between rounds (the
            # sf100 disk-retention lesson — see connected_components)
            import gc as _pygc

            _pygc.collect()
            try:
                edges.sparkSession.sparkContext._jvm.System.gc()
            except Exception:  # noqa: BLE001 — best-effort
                pass
    if telemetry is not None:
        telemetry["star_edge_trajectory"] = traj
        telemetry["star_rounds_to_fixpoint"] = len(traj) - 1
        telemetry["star_converged"] = converged
    if not converged:
        import warnings

        warnings.warn(
            f"star rounds did not reach fixpoint within {max_iterations} "
            f"iterations; returned components may be over-split.",
            RuntimeWarning,
            stacklevel=2,
        )
    labels = e.select(
        F.col("src").alias("doc_id"), F.col("dst").alias("component")
    ).unionByName(
        e.select(F.col("dst").alias("doc_id"), F.col("dst").alias("component"))
        .distinct()
    )
    # node-sized: materialize cheaply, then release the cached edge
    # frame — without this the final round's persist leaked for the
    # life of the session (ADVICE r10)
    out = labels.localCheckpoint(eager=True)
    e.unpersist()
    return out


def _star_components(
    edges: DataFrame,
    n_pairs: int | None,
    driver_threshold: int,
    max_iterations: int,
    checkpoint_every: int,
    telemetry: dict | None,
) -> DataFrame:
    """The distributed engine over an int64 ``(src, dst)`` edge frame:
    partition-forest contraction, then large-star/small-star rounds or
    the driver union-find endgame (see ``connected_components``).
    Returns (doc_id long, component long), eagerly materialized and
    holding no persist."""
    # pass-1 partition sizing (ADVICE r10): _partition_forest holds a
    # whole partition's edge arrays in memory and only the
    # re-contraction loop below applies the 4M-edge target, so a
    # coarsely-partitioned dense frame (few huge partitions) is
    # repartitioned first when its average exceeds the ~8M-edge /
    # 250 MB-peak contract — a safety valve that parquet scans at
    # default 128 MB splits never trigger. Uses the driver gate's
    # count: driver_threshold=0 callers skip the valve and own their
    # input partition sizing. The RDD partition probe costs ~0.1-0.3 s
    # of driver latency, so it runs only when the valve can fire (r14).
    if n_pairs is not None and n_pairs > _FOREST_PASS1_MAX_PER_PART:
        n_parts = max(1, edges.rdd.getNumPartitions())
        if n_pairs / n_parts > _FOREST_PASS1_MAX_PER_PART:
            edges = edges.repartition(
                int(n_pairs // _FOREST_TARGET_EDGES_PER_PART) + 1
            )
    # ONE pass over the pair frame, total (r11): the forest's
    # explicit root self-rows carry the complete node set, so the
    # node frame derives from the (node-sized) forest instead of a
    # second full evaluation of the pair frame. The sf100 phase
    # decomposition measured that second scan — the old
    # labels-from-pairs distinct — at 1820 s of the 2750 s total:
    # on a lazy 1e9-pair frame it re-ran the entire candidate
    # join. Every aggregate below is forest-sized.
    forest = _partition_forest(edges).persist()
    m_edges = forest.count()
    n_nodes = forest.select("src").distinct().count()
    if telemetry is not None:
        telemetry["n_pairs"] = n_pairs
        telemetry["n_nodes"] = n_nodes
        telemetry["forest_edge_trajectory"] = [m_edges]
    shrink_target = max(driver_threshold, 4 * n_nodes)
    for _pass in range(4):
        if m_edges <= shrink_target:
            break
        parts = max(1, int(m_edges // _FOREST_TARGET_EDGES_PER_PART) + 1)
        recontracted = _partition_forest(
            forest.repartition(parts)
        ).persist()
        m2 = recontracted.count()
        if telemetry is not None:
            telemetry["forest_edge_trajectory"].append(m2)
        forest.unpersist()
        forest = recontracted
        if m2 >= m_edges:  # no progress — already forest-shaped
            m_edges = m2
            break
        m_edges = m2
    if driver_threshold and m_edges <= driver_threshold:
        # self-rows ride along, so the union-find labels singleton
        # nodes too — the mapping is already complete
        if telemetry is not None:
            telemetry["endgame"] = "driver"
        rows = forest.collect()
        forest.unpersist()
        mapping = _driver_union_find([(r[0], r[1]) for r in rows])
        return edges.sparkSession.createDataFrame(
            sorted(mapping.items()), "doc_id long, component long"
        )
    if telemetry is not None:
        telemetry["endgame"] = "star"
    core = _star_rounds(
        forest,
        max_iterations=max_iterations,
        checkpoint_every=checkpoint_every,
        telemetry=telemetry,
    )
    # star rounds drop self-rows (src != dst), so nodes whose every
    # edge was a self-loop — still present in the forest as (n, n)
    # roots — re-attach as their own singleton component. The node
    # set comes from the persisted FOREST (node-sized), never from
    # the pair frame; materialize before releasing it (ADVICE r10).
    nodes = forest.select(F.col("src").alias("doc_id")).distinct()
    singles = nodes.join(
        core.select("doc_id"), "doc_id", "left_anti"
    ).select("doc_id", F.col("doc_id").alias("component"))
    out = core.unionByName(singles).localCheckpoint(eager=True)
    forest.unpersist()
    return out


def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iterations: int = 50,
    checkpoint_every: int = 2,
    driver_threshold: int = 500_000,
    telemetry: dict | None = None,
) -> DataFrame:
    """(doc_id, component) labels for the near-duplicate pair graph:
    component = min doc id reachable from the doc. This is the final
    dedup step — keep the row where doc_id == component, drop the rest.

    One distributed engine: ONE mapInPandas scan contracts each
    partition's edges to its spanning forest (vectorized union-find,
    zero joins), geometric re-contraction bounds the frame at O(|V|),
    then alternating large-star/small-star rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) finish on
    the forest-sized frame — or a driver union-find endgame when the
    contracted forest fits under ``driver_threshold``. No broadcast,
    no edge doubling, no O(|E|) distinct.

    Id types: the engine is int64 inside. Integral ids are cast up to
    long (labels come back as long). Any other orderable id type
    (strings, decimals) is mapped to dense longs first: the distinct
    ids of both endpoint columns are sorted and numbered with
    ``zipWithIndex``, the index is joined onto both pair endpoints,
    and the labels are joined back to the original ids. The index
    preserves order, so the minimum index is the minimum original id
    and the fixpoint is unchanged; the output keeps the caller's id
    type, as the driver gate does. This costs one extra pass over the
    pair frame (the distinct ids) plus two pair-sized joins, so scale
    callers should keep long ids.

    ``checkpoint_every``: persist() caches execution but does NOT
    truncate the logical plan — each round's plan embeds every prior
    round's, and a long-diameter graph OOMs the driver on plan analysis
    alone (caught by the union-find fuzz test). ``localCheckpoint``
    every ``checkpoint_every`` star rounds cuts the lineage; integer
    labels make truncation result-invariant, exactly as in
    ``pagerank_ranks``. An sf1 probe showed per-round *analysis* time
    climbing 1 → 14 s across a 5-round checkpoint window, so the
    default cadence is every 2 rounds.

    ``driver_threshold``: pair graphs at or below this edge count run
    union-find ON THE DRIVER instead (path-compressed, then each set
    labeled with its min member — the identical fixpoint). Every
    distributed round costs ~1 s of scheduling overhead regardless of
    data size, so a 1.2k-edge graph was paying 16 rounds of it (~30 s)
    for microseconds of actual work. The gate is an explicit, counted
    bound — 500k edges ≈ 8 MB on the driver — NOT an unbounded
    collect: above it the distributed engine runs (the sf10 probe's
    18M-pair graph stays distributed). Pass 0 to force the distributed
    path (the fuzz suite does, to keep it covered).

    JOIN-SHAPE RULE (the sf100 T=0.35 disk-death lesson, SCALE.md r8):
    on dense dedup graphs |E| >> |V| by orders of magnitude (the 2M-node
    replica corpus carries ~10^8-10^9 pairs), and the retained map
    outputs of shuffles over the pair frame filled the 53 GB scratch.
    The contraction scan reads the pair frame once with no shuffle;
    every later shuffle is forest-sized, and the star rounds force a
    JVM GC after each lineage checkpoint so the ContextCleaner reaps
    dereferenced shuffle files between rounds.

    ``telemetry`` (optional dict): filled in place with the
    convergence record — ``n_pairs``/``n_nodes``,
    ``forest_edge_trajectory`` (contraction passes),
    ``star_edge_trajectory`` + ``star_rounds_to_fixpoint`` +
    ``star_converged`` (all from the aggregates the engine already
    runs — zero extra jobs), and ``endgame`` ("driver" | "star").
    Probes persist it to JSON so convergence regressions — not just
    wall time — are visible round-over-round (VERDICT r11 #7).
    """
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        ShortType,
        StructField,
        StructType,
    )

    integral = (ByteType, ShortType, IntegerType, LongType)
    ids_integral = isinstance(pairs.schema[id_a].dataType, integral) and isinstance(
        pairs.schema[id_b].dataType, integral
    )

    # Driver gate in ONE bounded evaluation (r13): collect at most
    # driver_threshold+1 edge rows — the length decides the gate, and
    # when the graph is small the collected rows ARE the full edge list
    # (a count()-then-collect() pair evaluated an unpersisted candidate
    # join twice). Driver memory stays ≤ threshold+1 skinny rows (~8 MB
    # at the 500k default). Above the threshold the full count feeds
    # the pass-1 sizing valve; a forced driver_threshold=0 skips both.
    n_pairs = None
    if driver_threshold:
        head = pairs.select(id_a, id_b).limit(driver_threshold + 1).collect()
        if len(head) > driver_threshold:
            del head
            n_pairs = pairs.count()
    if driver_threshold and n_pairs is None:
        mapping = _driver_union_find([(r[0], r[1]) for r in head])
        if ids_integral:
            schema = "doc_id long, component long"
        else:  # preserve the caller's id type (string keys etc.)
            dt = pairs.schema[id_a].dataType
            schema = StructType(
                [StructField("doc_id", dt), StructField("component", dt)]
            )
        return pairs.sparkSession.createDataFrame(
            sorted(mapping.items()), schema
        )

    star_args = (
        n_pairs, driver_threshold, max_iterations, checkpoint_every, telemetry
    )
    if ids_integral:
        edges = pairs.select(
            F.col(id_a).cast("long").alias("src"),
            F.col(id_b).cast("long").alias("dst"),
        )
        return _star_components(edges, *star_args)

    # non-integral ids: order-preserving dense index (see docstring)
    ids = (
        pairs.select(F.col(id_a).alias("_id"))
        .unionByName(pairs.select(F.col(id_b).alias("_id")))
        .distinct()
        .orderBy("_id")
    )
    index = pairs.sparkSession.createDataFrame(
        ids.rdd.zipWithIndex().map(lambda t: (t[0][0], t[1])),
        StructType(
            [
                StructField("_id", ids.schema["_id"].dataType),
                StructField("_ix", LongType(), False),
            ]
        ),
    ).persist()

    def _ix(id_name: str, ix_name: str) -> DataFrame:
        return index.select(
            F.col("_id").alias(id_name), F.col("_ix").alias(ix_name)
        )

    edges = (
        pairs.select(F.col(id_a).alias("_a"), F.col(id_b).alias("_b"))
        .join(_ix("_a", "src"), "_a")
        .join(_ix("_b", "dst"), "_b")
        .select("src", "dst")
    )
    out = (
        _star_components(edges, *star_args)
        .join(_ix("_doc", "doc_id"), "doc_id")
        .join(_ix("_comp", "component"), "component")
        .select(F.col("_doc").alias("doc_id"), F.col("_comp").alias("component"))
        .localCheckpoint(eager=True)
    )
    index.unpersist()
    return out



def _bq(name: str):
    """Backtick-quoted literal column reference — user-supplied names
    with dots/spaces must bind as one column, never parse as struct
    access (the trailing_range_agg lesson, ADVICE r8)."""
    return F.col("`" + name.replace("`", "``") + "`")

def simhash_neardup_pairs(
    sim: DataFrame,
    max_distance: int = 3,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    bits: int = 32,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, hamming) pairs whose SimHashes differ in at most
    ``max_distance`` bits, without an all-pairs join: split the hash
    into ``max_distance + 1`` chunks — by pigeonhole, any pair within
    the distance shares at least one chunk exactly — join on
    (chunk_id, chunk_value), then verify with bit_count(xor).

    Scale shape: the only shuffle is the chunk equi-join whose key
    space is chunks x 2^(bits/chunks); candidates ~ n^2 / 2^chunk_bits
    per chunk instead of n^2 — same contract as the MinHash band join.

    ``max_bucket_size`` is the same 100 TB safety valve as
    ``minhash_lsh_pairs``: a degenerate (chunk, value) bucket of n
    fingerprints yields n^2/2 candidates, and a low-entropy corpus
    slice (solid-color images, silence, boilerplate) can concentrate
    the whole join in a handful of buckets — the r10 sf10 media probe
    measured one 10.5k bucket carrying 55M of 968M predicted
    candidates. With the cap, buckets over the limit are DROPPED
    before the self-join (window over the join's own key — no extra
    shuffle). Recall contract: a pair is lost only if EVERY chunk it
    shares sits in a hot bucket; pairs keep forming through their
    other chunks. Not silent: ``pigeonhole_bucket_stats`` prices the
    exact forfeited candidate volume for the same cap, and the
    image_bucket_accounting registry query oracle-checks it. None
    (the default, used by all oracle-checked pair queries) keeps
    every bucket."""
    n_chunks = max_distance + 1
    chunk_bits = bits // n_chunks
    mask = (1 << chunk_bits) - 1
    # pre-project to SAFE internal names: id_col/sim_col are
    # user-supplied and must never reach an F.expr f-string raw
    safe = sim.select(_bq(id_col).alias("_id"), _bq(sim_col).alias("_sh"))
    chunks = safe.select(
        "_id",
        "_sh",
        F.explode(F.sequence(F.lit(0), F.lit(n_chunks - 1))).alias("c"),
    ).select(
        "_id",
        "_sh",
        "c",
        F.expr(f"shiftright(_sh, {chunk_bits} * c) & {mask}").alias("cv"),
    )
    if max_bucket_size is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("c", "cv")
        chunks = (
            chunks.withColumn("_bn", F.count(F.lit(1)).over(w))
            .filter(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
    a = chunks.select(
        F.col("_id").alias("doc_a"), F.col("_sh").alias("sh_a"), "c", "cv"
    )
    b = chunks.select(
        F.col("_id").alias("doc_b"), F.col("_sh").alias("sh_b"), "c", "cv"
    )
    cand = (
        a.join(b, on=["c", "cv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .distinct()
    )
    hamming = F.expr("bit_count(sh_a ^ sh_b)").cast("int")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_distance)
        .select("doc_a", "doc_b", "hamming")
    )


def pigeonhole_bucket_stats(
    sim: DataFrame,
    max_distance: int = 3,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    bits: int = 32,
    max_bucket_size: int = 10_000,
) -> DataFrame:
    """Per-chunk accounting for the pigeonhole join's hot-bucket cap —
    the no-silent-caps companion to ``simhash_neardup_pairs`` /
    ``dhash``-family lanes (``lsh_bucket_stats``'s contract, applied
    to the hamming-chunk join): before anyone runs a capped media
    dedup, this reports exactly what the cap would cost.

    One row per chunk id: total (chunk, value) buckets, buckets over
    the cap, fingerprints in hot buckets, and the candidate pairs
    inside hot buckets (``n*(n-1)/2`` — what the drop policy forfeits
    in this chunk; a forfeited CANDIDATE is only a lost PAIR if no
    other chunk recovers it). O(#buckets) aggregate on the join's own
    key — no pair is ever materialized."""
    n_chunks = max_distance + 1
    chunk_bits = bits // n_chunks
    mask = (1 << chunk_bits) - 1
    safe = sim.select(_bq(id_col).alias("_id"), _bq(sim_col).alias("_sh"))
    chunks = safe.select(
        "_id",
        F.explode(F.sequence(F.lit(0), F.lit(n_chunks - 1))).alias("c"),
        F.expr(f"shiftright(_sh, {chunk_bits} * c) & {mask}").alias("cv"),
    )
    buckets = chunks.groupBy("c", "cv").agg(F.count(F.lit(1)).alias("n"))
    hot = F.col("n") > max_bucket_size
    return (
        buckets.groupBy("c")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("n").cast("long").alias("max_bucket"),
            # n*(n-1) is even, so DIV 2 is exact — and the whole
            # aggregation stays in bigint. `/ 2` would route through
            # double, whose 53-bit mantissa silently loses exactness
            # above ~9e15 total candidates while the DuckDB oracle
            # (integer //) stays exact (ADVICE r10).
            F.sum(F.expr("n * (n - 1) DIV 2")).alias("candidates"),
            F.sum(hot.cast("long")).alias("n_hot_buckets"),
            F.sum(F.when(hot, F.col("n")).otherwise(0))
            .cast("long")
            .alias("docs_in_hot"),
            F.sum(
                F.when(hot, F.expr("n * (n - 1) DIV 2")).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("pairs_in_hot"),
        )
        .withColumnRenamed("c", "chunk_id")
        .orderBy("chunk_id")
    )


def simhash_neardup_cross_pairs(
    index_sim: DataFrame,
    batch_sim: DataFrame,
    max_distance: int = 3,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    bits: int = 32,
) -> DataFrame:
    """Cross-frame variant of :func:`simhash_neardup_pairs`: pairs
    between a (large, persisted) ``index_sim`` and a (small, per-epoch)
    ``batch_sim`` — the streaming incremental shape. The batch side's
    chunk frame is BROADCAST, so the index scan is filtered map-side
    and never shuffles; pairs come out (least, greatest)-ordered so
    stream-accumulated output matches the batch self-join regardless
    of arrival order. Ids must be disjoint across the two frames (the
    epoch contract: every doc belongs to exactly one epoch)."""
    n_chunks = max_distance + 1
    chunk_bits = bits // n_chunks
    mask = (1 << chunk_bits) - 1

    def _chunks(frame: DataFrame) -> DataFrame:
        # safe internal names — see simhash_neardup_pairs
        return frame.select(
            _bq(id_col).alias("_id"), _bq(sim_col).alias("_sh")
        ).select(
            "_id",
            "_sh",
            F.explode(F.sequence(F.lit(0), F.lit(n_chunks - 1))).alias("c"),
        ).select(
            "_id",
            "_sh",
            "c",
            F.expr(f"shiftright(_sh, {chunk_bits} * c) & {mask}").alias("cv"),
        )

    i = _chunks(index_sim).select(
        F.col("_id").alias("_ia"), F.col("_sh").alias("sh_a"), "c", "cv"
    )
    b = F.broadcast(
        _chunks(batch_sim).select(
            F.col("_id").alias("_ib"), F.col("_sh").alias("sh_b"), "c", "cv"
        )
    )
    cand = (
        i.join(b, on=["c", "cv"])
        .filter(F.col("_ia") != F.col("_ib"))
        .select(
            F.least("_ia", "_ib").alias("doc_a"),
            F.greatest("_ia", "_ib").alias("doc_b"),
            F.col("sh_a"),
            F.col("sh_b"),
        )
        .distinct()
    )
    hamming = F.expr("bit_count(sh_a ^ sh_b)").cast("int")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_distance)
        .select("doc_a", "doc_b", "hamming")
    )


def video_neardup_pairs(
    frame_hashes: DataFrame,
    max_distance: int = 3,
    min_matching: int = 3,
    id_col: str = "doc_id",
    slot_col: str = "slot",
    sim_col: str = "dhash",
    bits: int = 64,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, n_match) video near-dup pairs over position-
    aligned per-frame fingerprints (``video_frame_hashes``): two videos
    pair when at least ``min_matching`` sampled slots carry frame
    hashes within ``max_distance`` bits. The per-slot candidate join is
    the pigeonhole chunk join with the SLOT as an extra equi-key, so
    candidates only form between same-position frames — at 100 TB the
    shuffle key space is slots × chunks × 2^(bits/chunks) and the work
    stays O(Σ bucket²) per slot, never all-pairs across videos, never
    across slots.

    ``max_bucket_size`` caps degenerate (slot, chunk, value) buckets
    before the self-join — the same priced safety valve as
    ``simhash_neardup_pairs`` (think: black frames at slot 0 across a
    whole corpus). Default None keeps every bucket (the oracle-checked
    configuration)."""
    n_chunks = max_distance + 1
    chunk_bits = bits // n_chunks
    mask = (1 << chunk_bits) - 1
    safe = frame_hashes.select(
        _bq(id_col).alias("_id"),
        _bq(slot_col).alias("_sl"),
        _bq(sim_col).alias("_sh"),
    )
    chunks = safe.select(
        "_id",
        "_sl",
        "_sh",
        F.explode(F.sequence(F.lit(0), F.lit(n_chunks - 1))).alias("c"),
    ).select(
        "_id",
        "_sl",
        "_sh",
        "c",
        F.expr(f"shiftright(_sh, {chunk_bits} * c) & {mask}").alias("cv"),
    )
    if max_bucket_size is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("_sl", "c", "cv")
        chunks = (
            chunks.withColumn("_bn", F.count(F.lit(1)).over(w))
            .filter(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
    a = chunks.select(
        F.col("_id").alias("doc_a"), F.col("_sh").alias("sh_a"), "_sl", "c", "cv"
    )
    b = chunks.select(
        F.col("_id").alias("doc_b"), F.col("_sh").alias("sh_b"), "_sl", "c", "cv"
    )
    slot_pairs = (
        a.join(b, on=["_sl", "c", "cv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "_sl", "sh_a", "sh_b")
        .distinct()  # collapse multi-chunk hits of the same slot pair
        .filter(F.expr("bit_count(sh_a ^ sh_b)") <= max_distance)
    )
    return (
        slot_pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("int").alias("n_match"))
        .filter(F.col("n_match") >= min_matching)
    )


def video_neardup_cross_pairs(
    index_fh: DataFrame,
    batch_fh: DataFrame,
    max_distance: int = 3,
    min_matching: int = 3,
    id_col: str = "doc_id",
    slot_col: str = "slot",
    sim_col: str = "dhash",
    bits: int = 64,
) -> DataFrame:
    """Cross-frame variant of :func:`video_neardup_pairs` — pairs
    between a (large, persisted) frame-hash ``index_fh`` and a (small,
    per-epoch) ``batch_fh``, the streaming incremental shape. The
    batch side's chunk frame is BROADCAST so the index scan filters
    map-side and never shuffles; pairs come out (least, greatest)-
    ordered so stream-accumulated output matches the batch self-join.
    Ids must be disjoint across the frames (the epoch contract)."""
    n_chunks = max_distance + 1
    chunk_bits = bits // n_chunks
    mask = (1 << chunk_bits) - 1

    def _chunks(frame: DataFrame) -> DataFrame:
        return frame.select(
            _bq(id_col).alias("_id"),
            _bq(slot_col).alias("_sl"),
            _bq(sim_col).alias("_sh"),
        ).select(
            "_id",
            "_sl",
            "_sh",
            F.explode(F.sequence(F.lit(0), F.lit(n_chunks - 1))).alias("c"),
        ).select(
            "_id",
            "_sl",
            "_sh",
            "c",
            F.expr(f"shiftright(_sh, {chunk_bits} * c) & {mask}").alias("cv"),
        )

    i = _chunks(index_fh).select(
        F.col("_id").alias("_ia"), F.col("_sh").alias("sh_a"), "_sl", "c", "cv"
    )
    b = F.broadcast(
        _chunks(batch_fh).select(
            F.col("_id").alias("_ib"), F.col("_sh").alias("sh_b"), "_sl", "c", "cv"
        )
    )
    slot_pairs = (
        i.join(b, on=["_sl", "c", "cv"])
        .filter(F.col("_ia") != F.col("_ib"))
        .select(
            F.least("_ia", "_ib").alias("doc_a"),
            F.greatest("_ia", "_ib").alias("doc_b"),
            "_sl",
            F.when(F.col("_ia") < F.col("_ib"), F.col("sh_a"))
            .otherwise(F.col("sh_b"))
            .alias("sh_a"),
            F.when(F.col("_ia") < F.col("_ib"), F.col("sh_b"))
            .otherwise(F.col("sh_a"))
            .alias("sh_b"),
        )
        .distinct()
        .filter(F.expr("bit_count(sh_a ^ sh_b)") <= max_distance)
    )
    return (
        slot_pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("int").alias("n_match"))
        .filter(F.col("n_match") >= min_matching)
    )


# --- SimHash ---------------------------------------------------------------
#
# 32-bit SimHash from md5-derived word hashes. The bit arithmetic is
# emitted as generated SQL text (Spark F.expr) so the DuckDB oracle
# can be generated from the same Python constants — keeping both
# engines' arithmetic in lockstep. Only engine-portable constructs:
# position(x in y), substr, md5, floor division via exact doubles.

SIMHASH_BITS = 32
_HEXVAL = "(position(substr({h}, {pos}, 1) in '0123456789abcdef') - 1)"


def _hex32_expr(h: str) -> str:
    """SQL for: integer value of the first 8 hex chars of md5 text
    ``h``, accumulated in double (exact: < 2^32 < 2^53; int literals
    would overflow int32 under Spark's ANSI arithmetic)."""
    terms = [
        f"{_HEXVAL.format(h=h, pos=j + 1)} * {float(16 ** (7 - j))!r}" for j in range(8)
    ]
    return "(" + " + ".join(terms) + ")"


hex32_sql = _hex32_expr  # public: oracle generators embed the same arithmetic


def _bit_expr(v: str, b: int) -> str:
    """SQL for bit ``b`` of integer-valued double ``v`` (exact floor
    division — both engines floor identically on exact doubles)."""
    return f"(CAST(floor({v} / {2 ** b}) AS BIGINT) % 2)"


def simhash_sql(words_expr: str, dialect: str) -> str:
    """Generated SQL computing a 32-bit SimHash over a words-array
    expression. dialect: 'spark' | 'duckdb' (fold syntax differs; the
    arithmetic is identical)."""
    v = _hex32_expr("md5(w)")
    per_bit = []
    for b in range(SIMHASH_BITS):
        vote = f"({_bit_expr(v, b)} * 2 - 1)"
        if dialect == "spark":
            s = f"aggregate(transform({words_expr}, w -> {vote}), 0L, (acc, x) -> acc + x)"
        else:
            s = f"list_sum(list_transform({words_expr}, w -> {vote}))"
        per_bit.append(f"(CASE WHEN {s} >= 0 THEN {2 ** b} ELSE 0 END)")
    return "CAST(" + " + ".join(per_bit) + " AS BIGINT)"


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document 32-bit SimHash (documents whose hashes are close in
    Hamming distance are near-duplicates).

    Codegen shape (like minhash_signatures): words and bit positions
    are exploded into rows so the md5/bit arithmetic compiles, then
    two partial-combining aggregations rebuild the hash. Arithmetic is
    identical to the generated-SQL form the oracle uses."""
    norm = spread_for_compute(docs).select(
        F.col(id_col), normalize_text(text_col).alias("norm_text")
    )
    per_word = norm.select(
        id_col, F.explode(F.split("norm_text", " ")).alias("w")
    ).select(id_col, F.expr(_hex32_expr("md5(w)")).alias("v"))
    votes = per_word.select(
        id_col,
        "v",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("b"),
    ).select(
        id_col,
        "b",
        (
            F.floor(F.col("v") / F.pow(F.lit(2.0), F.col("b"))).cast("bigint")
            % 2
            * 2
            - 1
        ).alias("vote"),
    )
    bit_sums = votes.groupBy(id_col, "b").agg(F.sum("vote").alias("sv"))
    return bit_sums.groupBy(id_col).agg(
        F.sum(
            F.when(
                F.col("sv") >= 0, F.expr("shiftleft(CAST(1 AS BIGINT), b)")
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("simhash")
    )


def incremental_lsh_matches(
    new_docs: DataFrame,
    index_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """Cross-batch LSH candidates: incoming documents that share a
    MinHash band bucket with an already-indexed document — the
    INCREMENTAL form of near-dup dedup, where a (small) new batch is
    screened against a (huge) existing corpus instead of re-running
    the all-pairs self-join.

    Returns distinct (new_doc, index_doc) candidate matches; verify
    with ``jaccard_pairs`` as usual.

    Scale shape (100 TB index, GB-scale batch): the batch's band frame
    is docs x bands rows of (band_id, 32-char band_sig) — megabytes
    for any realistic ingest tick — so it is BROADCAST, and the index
    band table is filtered map-side with NO shuffle of the index at
    all.  The only exchange in the whole plan carries the matched
    candidates into the final distinct.  In production the index band
    frame is a materialized table (write ``lsh_bands(signatures)`` out
    once, append per batch); here it is computed inline so the
    operator is self-contained.
    """
    new_bands = lsh_bands(
        minhash_signatures(new_docs, id_col, text_col, num_hashes, shingle_n),
        id_col=id_col,
        bands=bands,
        num_hashes=num_hashes,
    )
    idx_bands = lsh_bands(
        minhash_signatures(index_docs, id_col, text_col, num_hashes, shingle_n),
        id_col=id_col,
        bands=bands,
        num_hashes=num_hashes,
    )
    return (
        idx_bands.alias("i")
        .join(
            F.broadcast(new_bands.alias("n")),
            on=[
                F.col("i.band_id") == F.col("n.band_id"),
                F.col("i.band_sig") == F.col("n.band_sig"),
            ],
        )
        .select(
            F.col(f"n.{id_col}").alias("new_doc"),
            F.col(f"i.{id_col}").alias("index_doc"),
        )
        .distinct()
    )


def span_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_words: int = 10,
) -> DataFrame:
    """Inter-document span-level dedup — remove repeated boilerplate
    SPANS across the corpus while keeping the rest of each document
    (the MassiveText/Gopher "repeated passage" pass; doc-level dedup
    like :func:`minhash_lsh_pairs` can't touch a doc that is 90%
    unique with one viral paragraph).

    Each doc splits into non-overlapping ``span_words``-word spans; a
    span survives iff it is the corpus-wide FIRST occurrence of its
    content (order: (doc_id, span_id)); survivors re-join in order.

    Scale shape: the only shuffle is the keep-first window, keyed by
    the span's md5 — high-cardinality, evenly spread (the 32-hex key
    also keeps shuffle rows narrow vs. carrying full span text as the
    key). Splitting is a narrow posexplode; reassembly groups by
    ``id_col``, the natural partitioning of every downstream stage.

    Returns one row per input doc: (id, kept_text, n_spans, n_kept) —
    a fully-deduped doc survives with empty text, so corpus accounting
    (rows in == rows out) stays trivial.
    """
    from pyspark.sql import Window

    words = F.split(F.col(text_col), " ")
    d = docs.select(
        F.col(id_col), words.alias("_w"), F.size(words).alias("_n")
    )
    starts = F.sequence(
        F.lit(0), F.greatest(F.col("_n") - 1, F.lit(0)), F.lit(span_words)
    )
    spans = d.select(
        id_col,
        F.posexplode(starts).alias("span_id", "_start"),
        F.concat_ws(
            " ", F.slice("_w", F.col("_start") + 1, F.lit(span_words))
        ).alias("span_text"),
    )
    w = Window.partitionBy(F.md5("span_text")).orderBy(id_col, "span_id")
    flagged = spans.withColumn("_keep", F.row_number().over(w) == 1)
    kept_struct = F.when(
        F.col("_keep"), F.struct(F.col("span_id"), F.col("span_text"))
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(kept_struct)),
                    lambda s: s.span_text,
                ),
            ).alias("kept_text"),
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("_keep").cast("long")).alias("n_kept"),
        )
    )


def semantic_cells(
    emb: DataFrame,
    n_centroids: int = 8,
    n_iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_rows_cap: int | None = None,
    cent_rows: list | None = None,
    two_level: "tuple[int, int] | None" = None,
    two_level_hot_split: "tuple[int, int] | None" = None,
):
    """Train the SemDeDup coarse quantizer and assign every vector to
    its cell. Returns ``(cells, cent_rows)``: a lazy (vec_id, v, cid)
    frame and the collected C × dim centroid rows (k-bounded driver
    state). Shared by :func:`semantic_dedup_members` (pairing) and
    :func:`semantic_cell_stats` (cap accounting) so both see the SAME
    partition of the corpus. Pass pre-trained ``cent_rows`` to skip
    training entirely (the train-once/serve-many contract — the
    session memo in plans/queries_curation.py and the frozen streaming
    quantizer both ride this).

    ``two_level=(c1, c2)`` switches to the hierarchical quantizer
    (``similarity.two_level_train_rows`` / ``two_level_assign``):
    c1·c2 effective cells for O(c1+c2) per-row assignment work — the
    path past flat literal assignment's C ≈ few-hundred ceiling; here
    ``n_centroids`` is ignored and the second return value is the
    (super_rows, sub_by_super) pair instead."""
    from dataengineering_spark.operators.similarity import (
        _spread_for_training,
        ivf_assign,
        ivf_train_rows,
        two_level_assign,
        two_level_train_rows,
    )

    e = _spread_for_training(
        emb.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
    )
    train_e = e
    if train_rows_cap is not None and train_rows_cap > 0:
        from dataengineering_spark.operators.sampling import sample_hash

        train_e = e.orderBy(
            sample_hash(F.col("vec_id"), "semdedup-train"), F.col("vec_id")
        ).limit(train_rows_cap)
    if two_level is not None:
        c1, c2 = two_level
        if cent_rows is None:
            cent_rows = two_level_train_rows(
                train_e, c1, c2, n_iters, dim,
                hot_split=two_level_hot_split,
            )
        super_rows, sub_by_super = cent_rows
        return two_level_assign(e, super_rows, sub_by_super, c2), cent_rows
    if cent_rows is None:
        cent_rows = ivf_train_rows(train_e, n_centroids, n_iters, dim)
    return ivf_assign(e, cent_rows), cent_rows



def require_pair_budget(
    cells: DataFrame,
    max_pairs: int,
    max_cell_size: int | None = None,
) -> int:
    """Refuse a semantic-dedup configuration whose predicted candidate
    pair volume exceeds ``max_pairs`` — the priced degrade for the
    pair/CC phase (the sf100 T=0.35 lesson: an adversarial replica
    corpus can push within-cell pair volume past local scratch; the
    failure should be a REFUSAL with the predicted number and the knobs
    that change it, never a mid-job disk-death).

    The prediction is the exact sum of n·(n−1)/2 over cells (after the
    optional ``max_cell_size`` drop policy, mirroring
    ``semantic_dedup_members``) — an O(#cells) aggregate; no pair is
    materialized. Returns the predicted volume when within budget.

    Size the budget from scratch: a candidate pair is two BIGINTs
    (~16 B raw in shuffle/cache), so ~50 GB of scratch prices roughly
    3e9 pairs. Knobs in the error: raise the threshold, lower the cap,
    or grow C with the corpus (cells ≈ N/1000 keeps pair work linear).

    MATERIALIZATION CONTRACT (r11, the sf100 video lesson): this
    function prices PRE-VERIFY candidate volume, which is correct
    exactly when candidates are materialized — and the SemDeDup path
    is: ``semantic_dedup_members`` persists its candidate pair frame
    before CC. For the pigeonhole/hamming lanes the verify predicate
    folds into the join condition itself (Catalyst pushes
    ``bit_count(a^b) <= d`` below the candidate distinct — pinned by
    test), so candidates stream through codegen and only SURVIVORS
    ever hit a shuffle; pricing those paths on candidate volume
    over-refuses by the verify rejection factor (the sf100 video arm:
    3.08B candidates priced over a 2B budget, actual materialized
    volume 328,880 pairs, 35.6 s). Streaming-verify callers should use
    :func:`require_survivor_budget` with a
    :func:`sample_verify_rate`-measured rate instead.
    """
    sizes = cells.groupBy("cid").agg(F.count(F.lit(1)).alias("n"))
    if max_cell_size is not None:
        sizes = sizes.filter(F.col("n") <= max_cell_size)
    row = sizes.agg(
        F.coalesce(
            F.sum(F.col("n") * (F.col("n") - 1) / 2), F.lit(0)
        ).cast("long").alias("p")
    ).collect()[0]
    predicted = int(row["p"])
    if predicted > max_pairs:
        raise ValueError(
            f"predicted candidate pair volume {predicted:,} exceeds the "
            f"pair budget {max_pairs:,}; refuse instead of disk-dying. "
            f"Raise the similarity threshold, lower max_cell_size "
            f"(currently {max_cell_size}), or grow the cell count with "
            f"the corpus (C ~ N/1000)."
        )
    return predicted

def candidate_volume(
    bucket_sizes: DataFrame,
    max_bucket_size: int | None = None,
    size_col: str = "n",
) -> int:
    """Exact Σ n·(n−1)/2 over a bucket-size frame (one row per join
    bucket, ``size_col`` = members), optionally after dropping buckets
    over ``max_bucket_size`` — the same arithmetic every price-then-cap
    probe ran driver-side, as an O(#buckets) aggregate that never
    materializes a pair. Integer end-to-end (``DIV 2``): exact at any
    scale, unlike a double sum (ADVICE r10)."""
    sizes = bucket_sizes.select(_bq(size_col).alias("n"))
    if max_bucket_size is not None:
        sizes = sizes.filter(F.col("n") <= max_bucket_size)
    row = sizes.agg(
        F.coalesce(F.sum(F.expr("n * (n - 1) DIV 2")), F.lit(0)).alias("p")
    ).collect()[0]
    return int(row["p"])


def verify_rate_stats(
    sim: DataFrame,
    max_distance: int = 3,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    bits: int = 32,
    slot_col: str | None = None,
    max_bucket_size: int | None = None,
    bucket_sample: int = 1,
    seed: int = 11,
) -> DataFrame:
    """Per-chunk verify pass accounting for the pigeonhole/hamming
    candidate join: one row per chunk id with the candidate
    OCCURRENCES the (optionally capped, optionally bucket-sampled)
    self-join produces for that chunk and how many pass the
    ``bit_count(xor) <= max_distance`` verify — the measured
    counterpart to ``pigeonhole_bucket_stats``' predicted candidate
    arithmetic, and the frame :func:`sample_verify_rate` aggregates
    into the survivor-budget rate.

    ``bucket_sample`` > 1 keeps a deterministic 1-in-k hash-sample of
    (chunk, value) buckets (plus ``slot_col`` when given — the video
    lane's extra equi-key): whole buckets are in or out, preserving
    within-bucket pair structure — a ROW sample would shrink every
    bucket quadratically and bias the rate. Expected cost is
    kept_volume / bucket_sample candidate occurrences streamed through
    one codegen aggregate; nothing persists."""
    n_chunks = max_distance + 1
    chunk_bits = bits // n_chunks
    mask = (1 << chunk_bits) - 1
    cols = [_bq(id_col).alias("_id"), _bq(sim_col).alias("_sh")]
    keys = ["c", "cv"]
    if slot_col is not None:
        cols.append(_bq(slot_col).alias("_sl"))
        keys = ["_sl", "c", "cv"]
    safe = sim.select(*cols)
    chunks = safe.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(n_chunks - 1))).alias("c")
    ).select(
        "*", F.expr(f"shiftright(_sh, {chunk_bits} * c) & {mask}").alias("cv")
    )
    if bucket_sample > 1:
        chunks = chunks.filter(
            F.pmod(
                F.abs(F.xxhash64(*keys, F.lit(seed))), F.lit(bucket_sample)
            )
            == 0
        )
    if max_bucket_size is not None:
        from pyspark.sql import Window

        w = Window.partitionBy(*keys)
        chunks = (
            chunks.withColumn("_bn", F.count(F.lit(1)).over(w))
            .filter(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
    a = chunks.select(
        F.col("_id").alias("_ida"), F.col("_sh").alias("sh_a"), *keys
    )
    b = chunks.select(
        F.col("_id").alias("_idb"), F.col("_sh").alias("sh_b"), *keys
    )
    return (
        a.join(b, on=keys)
        .filter(F.col("_ida") < F.col("_idb"))
        .groupBy(F.col("c").alias("chunk_id"))
        .agg(
            F.count(F.lit(1)).alias("candidates"),
            F.sum(
                (F.expr("bit_count(sh_a ^ sh_b)") <= max_distance)
                .cast("long")
            ).alias("survivors"),
        )
    )


def sample_verify_rate(
    sim: DataFrame,
    max_distance: int = 3,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    bits: int = 32,
    slot_col: str | None = None,
    max_bucket_size: int | None = None,
    bucket_sample: int = 64,
    seed: int = 11,
) -> tuple[float, int, int]:
    """Measured verify pass rate for the pigeonhole/hamming candidate
    join: on a deterministic 1-in-``bucket_sample`` hash-sample of
    (chunk, value) buckets (plus ``slot_col`` when given — the video
    lane's extra equi-key), run the SAME capped self-join the real
    operator runs and count candidate occurrences vs occurrences
    passing ``bit_count(xor) <= max_distance``. Returns
    ``(rate, sampled_candidates, sampled_survivors)``.

    The rate is measured at candidate-OCCURRENCE level (pre-distinct,
    one row per shared chunk), which is exactly the stream the verify
    filter sees and exactly what ``require_survivor_budget`` scales:
    survivors × occurrence multiplicity is what enters the dedup
    distinct's exchange. Zero sampled candidates returns rate 1.0 —
    the conservative price. Per-chunk detail (and the sampling
    mechanics) live in :func:`verify_rate_stats`.
    """
    row = (
        verify_rate_stats(
            sim, max_distance, id_col, sim_col, bits, slot_col,
            max_bucket_size, bucket_sample, seed,
        )
        .agg(
            F.coalesce(F.sum("candidates"), F.lit(0)).alias("cand"),
            F.coalesce(F.sum("survivors"), F.lit(0)).alias("surv"),
        )
        .collect()[0]
    )
    cand, surv = int(row["cand"]), int(row["surv"])
    if cand == 0:
        return 1.0, 0, 0
    return surv / cand, cand, surv


def rate_upper_bound(successes: int, trials: int, z: float = 3.0) -> float:
    """One-sided Wilson score upper bound on a sampled pass rate.

    ``authorize_pigeonhole_cap`` prices survivor volume off a SAMPLED
    verify rate; a point estimate from a small or skewed sample can
    under-measure and authorize a cap whose true post-verify volume
    blows the budget (ADVICE r11).  The Wilson bound at z=3 (~99.87%
    one-sided) inflates the rate by the sampling uncertainty, so thin
    samples price conservatively and dense samples converge to the
    point estimate.  trials == 0 returns 1.0 — the conservative price.
    """
    if trials <= 0:
        return 1.0
    p = successes / trials
    z2 = z * z
    denom = 1.0 + z2 / trials
    centre = p + z2 / (2.0 * trials)
    spread = z * ((p * (1.0 - p) / trials + z2 / (4.0 * trials * trials)) ** 0.5)
    return min(1.0, (centre + spread) / denom)


def require_survivor_budget(
    bucket_sizes: DataFrame,
    max_pairs: int,
    verify_rate: float,
    max_bucket_size: int | None = None,
    size_col: str = "n",
) -> tuple[int, int]:
    """The STREAMING-VERIFY half of the pair budget (r11 — the sf100
    video lesson, SCALE.md r10): when the verify predicate folds into
    the candidate join (the pigeonhole/hamming lanes — Catalyst pushes
    ``bit_count <= d`` below the distinct, pinned by test), candidates
    never materialize; the footprint that can kill a job is the
    POST-VERIFY survivor volume entering the dedup distinct's
    exchange. Price that: exact capped candidate volume from the
    bucket histogram × a measured ``verify_rate``
    (:func:`sample_verify_rate`). Returns
    ``(predicted_candidates, predicted_survivors)`` when within
    budget; raises with the numbers and the knobs otherwise.

    Paths that persist, checkpoint, or collect their CANDIDATES must
    keep pricing pre-verify volume via :func:`require_pair_budget` —
    a survivor price there under-counts the real footprint."""
    if not 0.0 <= verify_rate <= 1.0:
        raise ValueError(f"verify_rate must be in [0, 1], got {verify_rate}")
    predicted = candidate_volume(bucket_sizes, max_bucket_size, size_col)
    survivors = int(predicted * verify_rate)
    if survivors > max_pairs:
        raise ValueError(
            f"predicted post-verify survivor volume {survivors:,} "
            f"({predicted:,} candidates x measured verify rate "
            f"{verify_rate:.3g}) exceeds the pair budget {max_pairs:,}; "
            f"refuse instead of disk-dying. Lower max_bucket_size "
            f"(currently {max_bucket_size}), tighten max_distance, or "
            f"shard the corpus."
        )
    return predicted, survivors


def authorize_pigeonhole_cap(
    sim: DataFrame,
    caps: "tuple[int, ...] | list[int]",
    budget: int,
    max_distance: int = 3,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    bits: int = 32,
    slot_col: str | None = None,
    compute_cap: int | None = None,
    sample_target: int = 50_000_000,
    seed: int = 11,
    min_sampled_candidates: int = 10_000,
    z: float = 3.0,
) -> dict:
    """The price-then-cap workflow as ONE operator (r11): given a
    fingerprint frame and a ladder of hot-bucket caps, authorize the
    LARGEST cap whose predicted post-verify survivor volume fits
    ``budget`` — the materialization-aware policy the sf100 probes run
    (SCALE.md r10/r11). Per cap, largest first: exact capped candidate
    volume from the bucket histogram (``candidate_volume``), then a
    measured verify pass rate on an adaptively-sized whole-bucket
    sample (``sample_verify_rate``; ~``sample_target`` occurrences),
    then ``require_survivor_budget``. Returns the decision record::

        {"cap", "candidates", "rate", "rate_ub", "margin",
         "predicted_survivors", "predicted_survivors_ub",
         "priced": [one row per cap considered]}

    Authorization prices on ``rate_ub`` — the one-sided Wilson upper
    bound (:func:`rate_upper_bound`, default z=3) of the sampled rate —
    never the point estimate: an under-measured rate from a thin or
    skewed sample must not authorize a cap whose true post-verify
    volume exceeds the budget (ADVICE r11).  When a 1-in-k bucket
    sample lands fewer than ``min_sampled_candidates`` occurrences the
    sampling densifies (k -> k // 8) and re-measures before the rate is
    trusted; a census (k == 1) is exact and carries zero margin.

    ``compute_cap`` optionally bounds the STREAMED candidate volume
    too (wall-clock, not materialization — candidates cost one codegen
    hamming verify each even though they never persist); caps over it
    are skipped with a priced row, not silently. Raises ``ValueError``
    with the full pricing table when no cap fits — a refusal with the
    numbers, never a mid-job disk-death. O(#buckets) driver state plus
    one streamed sample aggregate per cap considered; no pair is ever
    materialized."""
    n_chunks = max_distance + 1
    chunk_bits = bits // n_chunks
    mask = (1 << chunk_bits) - 1
    cols = [_bq(sim_col).alias("_sh")]
    keys = ["c", "cv"]
    if slot_col is not None:
        cols.append(_bq(slot_col).alias("_sl"))
        keys = ["_sl", "c", "cv"]
    buckets = (
        sim.select(*cols)
        .select(
            "*",
            F.explode(F.sequence(F.lit(0), F.lit(n_chunks - 1))).alias("c"),
        )
        .select(
            "*",
            F.expr(f"shiftright(_sh, {chunk_bits} * c) & {mask}").alias("cv"),
        )
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    priced: list[dict] = []
    chosen: dict | None = None
    try:
        for cap in sorted(caps, reverse=True):
            cand = candidate_volume(buckets, max_bucket_size=cap)
            if compute_cap is not None and cand > compute_cap:
                priced.append(
                    {"cap": cap, "candidates": cand,
                     "verdict": "over_compute_cap"}
                )
                continue
            k = max(1, int(cand // sample_target) or 1)
            while True:
                rate, s_cand, s_surv = sample_verify_rate(
                    sim, max_distance, id_col, sim_col, bits, slot_col,
                    max_bucket_size=cap, bucket_sample=k, seed=seed,
                )
                # thin sample -> densify before trusting the rate
                # (ADVICE r11: a skewed 1-in-k bucket draw can
                # under-measure); k == 1 is a census, always trusted
                if k == 1 or s_cand >= min_sampled_candidates:
                    break
                k = max(1, k // 8)
            # a census is exact; a sample prices on its Wilson bound
            rate_ub = rate if k == 1 else rate_upper_bound(s_surv, s_cand, z)
            survivors = int(cand * rate)
            survivors_ub = int(cand * rate_ub)
            row = {"cap": cap, "candidates": cand, "rate": rate,
                   "rate_ub": rate_ub, "margin": rate_ub - rate,
                   "sampled": (s_cand, s_surv),
                   "predicted_survivors": survivors,
                   "predicted_survivors_ub": survivors_ub}
            if survivors_ub <= budget:
                row["verdict"] = "authorized"
                priced.append(row)
                chosen = row
                break
            row["verdict"] = "refused"
            priced.append(row)
    finally:
        buckets.unpersist()
    if chosen is None:
        raise ValueError(
            f"no cap in {sorted(caps, reverse=True)} fits the survivor "
            f"budget {budget:,}; pricing table: {priced}. Tighten "
            f"max_distance, shard the corpus, or raise the budget."
        )
    return {**chosen, "priced": priced}


def semantic_cell_stats(
    emb: DataFrame,
    n_centroids: int = 8,
    n_iters: int = 2,
    dim: int = 64,
    max_cell_size: int = 80,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_rows_cap: int | None = None,
    cent_rows: list | None = None,
) -> DataFrame:
    """Per-cell accounting for the ``max_cell_size`` hot-cell cap —
    the no-silent-caps companion to :func:`semantic_dedup_members`,
    mirroring ``lsh_bucket_stats``: before anyone runs a capped
    semantic dedup, this reports exactly what the cap would cost.

    One row per cell: size, the n·(n−1)/2 candidate pairs the cell
    generates, whether the cap drops it, and the pairs a per-cell
    ``cap``-sample policy would keep instead. The aggregate is
    O(#cells) — no pair is ever materialized."""
    cells, _ = semantic_cells(
        emb, n_centroids, n_iters, dim, id_col, vec_col, train_rows_cap,
        cent_rows=cent_rows,
    )
    hot = F.col("n_vecs") > max_cell_size
    kept_per_hot = max_cell_size * (max_cell_size - 1) // 2
    return (
        cells.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .select(
            F.col("cid").cast("int").alias("cid"),
            "n_vecs",
            (F.col("n_vecs") * (F.col("n_vecs") - 1) / 2)
            .cast("long")
            .alias("cand_pairs"),
            hot.alias("over_cap"),
            F.when(hot, F.lit(kept_per_hot))
            .otherwise(F.col("n_vecs") * (F.col("n_vecs") - 1) / 2)
            .cast("long")
            .alias("pairs_kept_if_sampled"),
        )
    )


def semantic_candidate_pairs(
    cells: DataFrame,
    index_cells: DataFrame | None = None,
    threshold: float = 0.35,
) -> DataFrame:
    """(vec_a, vec_b) pairs with cosine >= threshold, cell-local.
    ``cells`` must carry (vec_id, v, dd, cid) — dd the precomputed
    self-dot, so each candidate costs ONE dot fold; the comparison
    ``dot >= t·sqrt(dd_a·dd_b)`` is the exact tree the DuckDB oracle
    replays (sqrt of the product, not sqrt·sqrt).

    With ``index_cells`` None: the within-frame self-join
    (vec_a < vec_b) batch semantic_dedup runs. With an index frame:
    index vs BROADCAST batch cells — the streaming cross-epoch shape
    (streaming/semdedup.py); the index side is filtered map-side on
    cid and never shuffles. Pairs are (least, greatest)-ordered so
    stream-accumulated output matches the batch self-join regardless
    of arrival order."""
    from dataengineering_spark.operators.similarity import dot

    a = cells.select(
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        F.col("dd").alias("dda"),
        "cid",
    )
    if index_cells is None:
        b = cells.select(
            F.col("vec_id").alias("vec_b"),
            F.col("v").alias("vb"),
            F.col("dd").alias("ddb"),
            "cid",
        )
        base = a.join(b, "cid").filter(F.col("vec_a") < F.col("vec_b"))
        lo, hi = F.col("vec_a"), F.col("vec_b")
    else:
        i = index_cells.select(
            F.col("vec_id").alias("vec_b"),
            F.col("v").alias("vb"),
            F.col("dd").alias("ddb"),
            "cid",
        )
        base = i.join(F.broadcast(a), "cid").filter(
            F.col("vec_a") != F.col("vec_b")
        )
        lo = F.least(F.col("vec_a"), F.col("vec_b"))
        hi = F.greatest(F.col("vec_a"), F.col("vec_b"))
    return (
        base.filter(
            dot(F.col("va"), F.col("vb"))
            >= F.lit(threshold) * F.sqrt(F.col("dda") * F.col("ddb"))
        )
        .select(lo.alias("vec_a"), hi.alias("vec_b"))
    )


def semantic_dedup_members(
    emb: DataFrame,
    n_centroids: int = 8,
    n_iters: int = 2,
    dim: int = 64,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_rows_cap: int | None = None,
    max_cell_size: int | None = None,
    cent_rows: list | None = None,
    two_level: "tuple[int, int] | None" = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): embedding-space
    near-duplicate clusters. K-means-partition the corpus (the IVF
    coarse quantizer from operators/similarity — deterministic
    md5-ranked seeds, fixed Lloyd rounds, fixed-point centroid sums),
    generate candidate pairs only WITHIN a cell, connect pairs with
    cosine >= threshold into components, and mark one keeper per
    cluster: the member with the LOWEST cosine to its cell centroid
    (the paper's keep-rule — prefer the least prototypical member).

    Returns one row per clustered vector: (component, vec_id, cid,
    cos_centroid, keep). Unclustered vectors are implicitly all-keep
    and not returned (anti-join the dropped set, as dedup_survivors
    does).

    SIZE ``n_centroids`` WITH THE CORPUS: within-cell pairing is
    O(N²/C) — the whole point of the cell partition is that C grows
    with N so the expected cell stays bounded (C ≈ N/1000 keeps cells
    ~1000 and pair work ~500·N, linear). A fixed C at growing N
    silently re-creates the all-pairs square; the sf1→sf10 probe in
    SCALE.md measures exactly this knob. The driver collect stays
    k-bounded (C × dim doubles); assignment stays a narrow map against
    centroid literals.

    ``train_rows_cap``: train the quantizer on the ``cap`` vectors
    ranked first by the md5 sampling hash instead of the full corpus
    (the FAISS convention — a few dozen samples per centroid train as
    well as all of them). Lloyd training costs O(rows · C · dim) per
    iteration; at sf10/C=256 the full-corpus train was 59 s of the
    whole 557 s run for zero quality gain. The subset is
    deterministic (hash-ranked, TakeOrdered — no full sort), but a
    capped train changes the centroids, so the registry query pins
    cap=None to stay oracle-replayable.

    ``max_cell_size``: drop policy for hot cells — cells with more
    vectors than the cap contribute no candidate pairs (their members
    are implicitly all-keep). Real corpora concentrate boilerplate in
    a few embedding regions; a hot cell is the semantic twin of
    MinHash-LSH's hot bucket, and the cap bounds the O(n²) cell the
    same way. NEVER silent: :func:`semantic_cell_stats` reports each
    cell's size and exactly how many candidate pairs a cap forfeits.
    """
    from pyspark.sql import Window

    from dataengineering_spark.caching import persist_tracked
    from dataengineering_spark.operators.similarity import dot

    cells_raw, cent_rows = semantic_cells(
        emb, n_centroids, n_iters, dim, id_col, vec_col, train_rows_cap,
        cent_rows=cent_rows, two_level=two_level,
    )
    if two_level is not None:
        # effective centroids keyed by the composite cid =
        # super*stride+sub; the stride matches two_level_assign's
        # derivation (max of c2 and the largest trained sub count, so
        # balance-aware hot-split trees pack without collisions)
        _super_rows, _sub_by_super = cent_rows
        c2 = max(
            [two_level[1]] + [len(v) for v in _sub_by_super.values()]
        )
        flat_rows = [
            (scid * c2 + sub, cv)
            for scid, subs in _sub_by_super.items()
            for sub, cv in subs
        ]
        # two_level_assign falls back to cid = super·stride for super
        # cells that trained zero sub-centroids (possible under
        # train_rows_cap); cover those cids with the SUPER centroid so
        # the inner joins below never drop an assigned vector.
        covered = {cid for cid, _ in flat_rows}
        flat_rows += [
            (scid * c2, cv)
            for scid, cv in _super_rows
            if scid * c2 not in covered
        ]
    else:
        flat_rows = cent_rows
    if max_cell_size is not None:
        # drop policy for hot cells (boilerplate-dense embedding
        # regions): cells over the cap contribute NO candidate pairs —
        # never a silent truncation, because semantic_cell_stats
        # reports exactly what the cap forfeits per cell.
        sizes = cells_raw.groupBy("cid").agg(F.count(F.lit(1)).alias("_n"))
        cells_raw = (
            cells_raw.join(sizes, "cid")
            .filter(F.col("_n") <= max_cell_size)
            .drop("_n")
        )
    # read three times (both pair sides + the member join): persist so
    # the narrow assign map runs once — the content_dedup pattern. The
    # per-row self-dot rides the cached frame, so each candidate pair
    # costs ONE dot fold instead of cosine's three (measured 23 s →
    # 8.5 s over 25M sf1 candidates; see SCALE.md).
    cells = persist_tracked(
        cells_raw.withColumn("dd", dot(F.col("v"), F.col("v")))
    )
    cents = emb.sparkSession.createDataFrame(
        [(int(cid), [float(x) for x in cv]) for cid, cv in flat_rows],
        "cid INT, cv ARRAY<DOUBLE>",
    )
    cos_c = cells.join(F.broadcast(cents), "cid").select(
        "vec_id",
        "cid",
        (
            dot(F.col("v"), F.col("cv"))
            / (F.sqrt(F.col("dd")) * F.sqrt(dot(F.col("cv"), F.col("cv"))))
        ).alias("cos_centroid"),
    )
    # persist: connected_components materializes the pair frame twice
    # (edge build + convergence loop lineage) — re-deriving it re-runs
    # the whole within-cell scoring scan (45 s at sf10)
    pairs = persist_tracked(
        semantic_candidate_pairs(cells, threshold=threshold)
    )
    comp = connected_components(pairs, id_a="vec_a", id_b="vec_b")
    members = comp.select(
        F.col("doc_id").alias("vec_id"), "component"
    ).join(cos_c, "vec_id")
    w = Window.partitionBy("component").orderBy(
        F.col("cos_centroid").asc(), F.col("vec_id").asc()
    )
    return members.select(
        "component",
        "vec_id",
        F.col("cid").cast("int").alias("cid"),
        "cos_centroid",
        (F.row_number().over(w) == 1).alias("keep"),
    )
