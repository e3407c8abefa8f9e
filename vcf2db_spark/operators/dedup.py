"""Deduplication operators for large-scale training-data pipelines
(SURVEY.md §2C C1/C2; BASELINE.json north star).

Four tiers, all deterministic (seeded hashes, no rand()):

- **exact**: hash group-by on a key tuple — one shuffle, partial agg.
- **n-gram Jaccard (exact)**: inverted-index self-join on shared tokens —
  the exact-but-quadratic baseline the approximate tiers approximate.
- **MinHash + LSH**: shingles → k min-hashes → band buckets → candidate
  pairs only within a bucket. At 100 TB the band bucket-join replaces the
  all-pairs product: cost ~ sum over buckets of |bucket|², controlled by
  (bands, rows-per-band).
- **SimHash**: 64-bit signature per doc; near-dups = Hamming ≤ r, found by
  pigeonhole chunk join (any identical 16-bit chunk) + bit_count filter.

Murmur3 (``F.hash``) keeps everything JVM-side; no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vcf2db_spark.session import scoped_conf


def exact_dedup(df: DataFrame, keys: list[str], tie_col: str) -> DataFrame:
    """Keep one deterministic representative (min tie_col) per key tuple."""
    others = [c for c in df.columns if c not in keys and c != tie_col]
    best = F.min(F.struct(F.col(tie_col), *[F.col(c) for c in others])).alias("_b")
    out = df.groupBy(*keys).agg(best, F.count("*").alias("group_size"))
    return out.select(
        *keys,
        F.col(f"_b.{tie_col}").alias(tie_col),
        *[F.col(f"_b.{c}").alias(c) for c in others],
        "group_size",
    )


def _tokens(text_col: str):
    return F.split(F.col(text_col), r"\s+")


def word_shingles(text_col: str, n: int = 3):
    """n-token shingles as strings (space-joined); the minhash universe."""
    toks = _tokens(text_col)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    shingle: int = 3,
) -> DataFrame:
    """(id, signature array<int>) — signature[i] = min over shingles of
    murmur3(shingle, seed_i).

    Shape: explode shingles once, murmur3 EACH SHINGLE ONCE, then derive
    the n_hashes family members arithmetically — ``h_i = (a_i*h + b_i)
    mod p`` (universal hashing over the prime 2^31-1) — inside 64 ``min``
    aggregates in a single groupBy. One partial-aggregated shuffle of
    64-int rows, and the string is hashed once per shingle instead of
    n_hashes times (measured ~5× faster at 10k docs; a nested
    ``transform(seeds, …transform(shingles, …))`` would be worse still —
    it re-inlines the shingle construction per seed)."""
    import random

    _P = (1 << 31) - 1  # Mersenne prime; universal-hash modulus
    rng = random.Random(42)
    coeffs = [(rng.randrange(1, _P), rng.randrange(0, _P)) for _ in range(n_hashes)]
    # Explode a cheap POSITION sequence and build/hash the shingle in the
    # post-Generate projection: exploding the HOF-built shingle array
    # directly trips InferFiltersFromGenerate, which clones the whole
    # interpreted transform(...) into a non-codegen Filter (see
    # functions/text.py::explode_token_ngram_hashes; measured 3.5× there).
    toks = _tokens(text_col)
    exploded = df.select(
        F.col(id_col).alias("id"), toks.alias("_t")
    ).select(
        "id",
        "_t",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.size("_t") - shingle, F.lit(0)))
        ).alias("_i"),
    ).select(
        # murmur3 the shingle ONCE; [0, 2^32) so a*h+b stays < 2^63.
        # hash(array_join(slice)) ≡ hash(shingle string) — identical
        # signatures to the array-explode formulation.
        "id",
        (
            F.hash(F.array_join(F.slice("_t", F.col("_i") + 1, shingle), " ")).cast("long")
            + F.lit(1 << 31)
        ).alias("_h"),
    )
    # Expression trees built as SQL strings: composing 64 aggregates from
    # Column operators costs ~6 py4j round-trips per operator node
    # (~1.1-1.8 s of pure Python plan-build per call, measured); one
    # F.expr parse each keeps plan construction JVM-side.
    mins = [
        F.expr(f"min(cast((({a}L * _h + {b}L) % {_P}L) as int))").alias(f"_h{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    agg = exploded.groupBy("id").agg(*mins)
    arr = "array(" + ", ".join(f"_h{i}" for i in range(n_hashes)) + ")"
    return agg.select("id", F.expr(arr).alias("signature"))


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    bands: int = 16,
    shingle: int = 3,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b, est_jaccard) via banded LSH.

    Two docs collide if any band (r = n_hashes/bands consecutive signature
    slots) matches exactly. est_jaccard = fraction of matching signature
    slots. The bucket join shuffles on (band, band_hash) — skew-safe under
    AQE; no all-pairs product ever materializes.

    ``bucket_cap``: drop (band, band_hash) buckets larger than the cap
    before the self-join — the standard production guard against
    degenerate buckets (boilerplate/empty documents collapse to one
    signature, and a single million-doc bucket alone is 10¹² candidate
    pairs). The trade is explicit recall loss ONLY for pairs whose every
    shared band is oversized — i.e. pairs inside spam-sized clusters,
    which downstream dedup drops wholesale anyway. Off by default: the
    declared queries keep exact banded semantics; a 100 TB run sets it
    to a few × the largest expected real duplicate cluster.
    """
    r = n_hashes // bands
    sigs = minhash_signatures(df, text_col, id_col, n_hashes, shingle)
    # NOTE (measured): both self-join sides recompute the signature pass
    # (one side is broadcast — no exchange to reuse), but persist()-ing
    # sigs here is WORSE locally: the InMemoryRelation's unknown stats
    # forfeit the auto-broadcast and AQE re-planning, forcing a sort-merge
    # join (5.5 s vs 1.2 s at sf0.1). At 100 TB, checkpoint the signature
    # table to storage instead — a parquet round-trip keeps stats and
    # costs one write of 64 ints/doc.
    band_idx = F.posexplode(
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.hash(F.array_join(
                F.transform(F.slice(F.col("signature"), b * r + 1, r), lambda x: x.cast("string")),
                ",",
            )),
        )
    )
    banded = sigs.select("id", "signature", band_idx.alias("band", "band_hash"))
    if bucket_cap is not None:
        # one extra narrow aggregation + a map-side-pruned semi join on
        # the same (band, band_hash) key the main join shuffles on — the
        # partial aggregate collapses per-partition counts before the
        # exchange, so the guard costs one pass over 16 B rows
        ok = (
            banded.groupBy("band", "band_hash")
            .agg(F.count(F.lit(1)).alias("_c"))
            .filter(F.col("_c") <= bucket_cap)
            .drop("_c")
        )
        banded = banded.join(ok, ["band", "band_hash"], "leftsemi")
    # shuffle-hash, not broadcast: at scale the banded table can never
    # broadcast (it's corpus-sized), so the honest plan is a hash-
    # partitioned join on (band, band_hash); locally it also skips the
    # broadcast hash-table build (~10% measured). The self-join's two
    # generate subtrees don't canonicalize to one exchange, so the sig
    # pipeline still evaluates per side — the cross-side reuse fix is a
    # checkpointed signature table (see the persist() note above).
    a = banded.hint("shuffle_hash").alias("a")
    b = banded.hint("shuffle_hash").alias("b")
    # Slot-match count computed MAP-SIDE in the join projection, so the
    # only shuffle of the Σ|bucket|² candidate stream is the duplicate
    # fold below — (id_a, id_b, _m) is 24 B/row vs the two 64-int
    # signatures the previous shape dragged through dropDuplicates
    # (~1.2 KB/row: the r10 sf16 dedup board measured that plan dying at
    # ~1 TB of shuffle on the 800k-doc fixture, and its pass-to-pass
    # variance at sf4 was tmpfs spill pressure from the same bytes).
    matches = F.size(
        F.filter(
            F.zip_with(
                F.col("a.signature"),
                F.col("b.signature"),
                lambda x, y: (x == y).cast("int"),
            ),
            lambda m: m == 1,
        )
    )
    pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.band_hash") == F.col("b.band_hash"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        matches.alias("_m"),
    )
    # a pair colliding in several bands carries the same _m every time;
    # max() is map-side-combinable, so duplicates collapse in the partial
    # aggregate BEFORE the exchange — the shuffle carries ≤ one narrow
    # row per distinct pair per map partition
    return pairs.groupBy("id_a", "id_b").agg(
        F.round(
            F.max("_m").cast("double") / F.lit(n_hashes), 6
        ).alias("est_jaccard")
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle: int | None = None,
) -> DataFrame:
    """Exact set-Jaccard via inverted-index self-join — the oracle twin for
    the LSH path. ``shingle=None`` → token sets; ``shingle=n`` → n-token
    shingle sets (the space MinHash estimates). Quadratic in bucket sizes;
    bound the input or use minhash_lsh_candidates at scale."""
    units = _tokens(text_col) if shingle is None else word_shingles(text_col, shingle)
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(units)).alias("tok"),
    )
    sizes = toks.groupBy("id").agg(F.count("*").alias("n_toks"))
    a = toks.alias("a")
    b = toks.alias("b")
    inter = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_toks").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_toks").alias("n_b"))
    jac = F.col("n_inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle: int = 3,
) -> DataFrame:
    """Directed shingle-containment pairs: C(a, b) = |S(a) ∩ S(b)| / |S(a)|
    — the asymmetric near-dup measure (doc a embedded in a larger doc b
    scores ~1 even when Jaccard is tiny). Used for decontamination and
    quote/subset detection where symmetric Jaccard under-fires.

    Same inverted-index shape as :func:`jaccard_pairs` (one shingle
    explode, equi-self-join on the shingle, Σ|posting|² bound — see
    docs/SCALE.md), but pairs are DIRECTED (a ≠ b, both orders), the
    denominator is |S(a)| only, and broadcast of the size dim prunes the
    second shuffle."""
    units = word_shingles(text_col, shingle)
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(units)).alias("tok"),
    )
    sizes = toks.groupBy("id").agg(F.count("*").alias("n_toks"))
    a = toks.alias("a")
    b = toks.alias("b")
    inter = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") != F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_toks").alias("n_a"))
    cont = F.col("n_inter").cast("double") / F.col("n_a").cast("double")
    return (
        inter.join(F.broadcast(sa), "id_a")
        .select("id_a", "id_b", F.round(cont, 6).alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """64-bit SimHash per doc: per-token murmur3 (two 32-bit halves via
    seeds), tf-weighted bit votes, sign → bit. Explode + one groupBy."""
    # As in minhash_signatures: 64 vote aggregates + a 64-term sign
    # reconstruction as Column-operator trees cost seconds of py4j
    # plan-build; SQL-string expressions parse in one JVM call each.
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(_tokens(text_col)).alias("tok")
    ).withColumn("h1", F.hash("tok")).withColumn("h2", F.hash("tok", F.lit(77)))
    votes = [
        F.expr(
            f"sum(case when ({'h1' if i < 32 else 'h2'} & {1 << (i % 32)}) != 0"
            " then 1 else -1 end)"
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = toks.groupBy("id").agg(*votes)
    # bit 63 as -(2**63): two's complement sign bit — the sum still
    # produces the exact 64-bit pattern.
    terms = []
    for i in range(bits):
        weight = -(1 << 63) if i == 63 else (1 << i)
        terms.append(f"(case when b{i} > 0 then cast({weight} as bigint) else 0L end)")
    sig = F.expr(" + ".join(terms))
    return agg.select("id", sig.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ r via pigeonhole: with 4
    16-bit chunks, any pair within Hamming ≤ 3 shares ≥1 exact chunk —
    so the join key is (chunk_idx, chunk_value), never all-pairs."""
    sigs = simhash(df, text_col, id_col)
    chunk = F.posexplode(
        F.array(*[
            F.shiftright(F.col("simhash"), k * 16).bitwiseAND(F.lit(0xFFFF))
            for k in range(4)
        ])
    )
    chunked = sigs.select("id", "simhash", chunk.alias("ck", "cv"))
    a, b = chunked.alias("a"), chunked.alias("b")
    # Hamming distance computes MAP-SIDE in the join projection and the
    # filter runs BEFORE the duplicate fold, so the dedup exchange
    # carries only the (selective) near pairs as (id_a, id_b, hamming) —
    # not every chunk-collision pair dragging both 64-bit signatures.
    # Equivalent: duplicates of an (id_a, id_b) key all carry the same
    # two signatures, hence the same hamming, so filter-then-dedup picks
    # the same surviving row set as dedup-then-filter.
    return (
        a.join(
            b,
            (F.col("a.ck") == F.col("b.ck"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def duplicate_clusters(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iters: int = 20,
    loop_partitions: int | None = None,
    small_threshold: int = 500_000,
) -> DataFrame:
    """Connected components over duplicate-candidate pairs: every node
    gets ``cluster_id`` = the smallest id reachable through the pair
    graph (singletons label themselves). This is the step between pair
    generation (Jaccard/MinHash-LSH/SimHash) and cluster-level actions —
    keep-one-per-cluster, cluster-size stats, transitive dedup — where
    pairwise drop rules under-merge (A~B, B~C but A!~C).

    Size-dispatched like operators/ranking.py::rank_and_ntile: a
    duplicate-PAIR graph is usually tiny relative to the corpus (pairs ≪
    docs² by LSH construction), and each distributed CC round is one
    Spark action — at a bounded scope the loop is pure job-floor tax
    (measured ~7 s for a 500-node declared query, ~5 rounds × scheduling
    constants). When the pair count is ≤ ``small_threshold`` the edges
    collect to the driver and a union-find labels them in O(E·α) —
    same min-label semantics, one job in and one broadcast-sized result
    out. Larger graphs take the iterative path below unchanged; both
    paths are asserted identical in tests/test_extensions.py.

    Spark-first iterative min-label propagation with pointer jumping:
    each round takes the min label over the node's neighbors (one
    equi-join + partial-agg shuffle) and then short-circuits label →
    label(label) (a second equi-join), which doubles propagation distance
    per round — convergence in O(log(component diameter)) rounds instead
    of O(diameter). Convergence is certified by sum(label): labels only
    ever decrease, so an unchanged sum means a fixpoint; the per-round
    driver work is that single scalar. Each round's labels are
    localCheckpoint-ed so lineage stays two joins deep and earlier
    rounds' shuffle files are collectable — persist() pinned the whole
    history and filled the local dirs at the sf16 board scale.

    At the 100 TB design point this is the standard map-reduce CC recipe
    (Kiveris et al. two-phase star contractions share the same bound);
    every round is shuffle-partitioned on the node id, no driver-side
    graph state.
    """
    spark = pairs.sparkSession
    # Restrict pairs to edges whose BOTH endpoints are in `nodes` — the
    # iterative path does this implicitly (labels exist only for nodes,
    # so an edge touching a foreign id propagates nothing), and without
    # the same restriction the union-find path would bridge two clusters
    # through an absent node, making the answer depend on which path the
    # size dispatch picked.
    ids = nodes.select(F.col(id_col).alias("_nid"))
    pairs = pairs.join(
        ids, F.col(a_col) == F.col("_nid"), "leftsemi"
    ).join(ids, F.col(b_col) == F.col("_nid"), "leftsemi")
    # Materialize the restricted pair set ONCE (localCheckpoint), then
    # serve BOTH the size probe and (on the large path) the edge build
    # from the materialized blocks. Before, the probe's limit+toPandas
    # evaluated the candidate-generation DAG upstream (e.g. the LSH band
    # join — ~6 min of the sf16 dedup board) and _cc_loop's edge build
    # evaluated it a second time; the aggregations inside that DAG mean
    # the limit could never short-circuit the work anyway. The pair set
    # is the operator's natural stage boundary (pairs ≪ docs² by LSH
    # construction — ~16 B/pair), the same device _cc_loop already uses
    # for its per-round labels. Arrow transfer (toPandas) keeps the
    # probe at two int64 columns instead of per-Row Python objects.
    sel = pairs.select(a_col, b_col).localCheckpoint(eager=True)
    probe = sel.limit(small_threshold + 1).toPandas()
    if len(probe) <= small_threshold:
        return _cc_unionfind(probe, nodes, id_col, a_col, b_col)
    # every round is 2 joins + an agg over label-sized data; at a bounded
    # scope 32-way exchanges are pure task-scheduling tax (measured
    # 11.9 s → ~4 s at the 500-doc declared query with 4). Cluster-scale
    # callers leave loop_partitions None and keep the session width.
    confs = (
        {"spark.sql.shuffle.partitions": str(loop_partitions)}
        if loop_partitions
        else {}
    )
    with scoped_conf(spark, confs):
        return _cc_loop(sel, nodes, id_col, a_col, b_col, max_iters)


def _cc_unionfind(
    probe,  # pandas DataFrame with columns [a_col, b_col]
    nodes: DataFrame,
    id_col: str,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Bounded-scope path: path-compressed union-find on the collected
    pair list (driver memory = O(nodes touched by a pair)), then a
    broadcast join labels the full node table — singletons label
    themselves via coalesce. Deterministic: the representative tracked
    per set is the MINIMUM id, matching the iterative path exactly."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    for ra, rb in zip(probe[a_col].tolist(), probe[b_col].tolist()):
        xa, xb = find(ra), find(rb)
        if xa != xb:
            lo, hi = (xa, xb) if xa < xb else (xb, xa)
            parent[hi] = lo  # min id becomes the representative
    labels = [(n, find(n)) for n in list(parent)]
    spark = nodes.sparkSession
    node_t = nodes.schema[id_col].dataType.simpleString()
    lab = spark.createDataFrame(
        labels, f"_n: {node_t}, _lab: {node_t}"
    )
    return nodes.select(F.col(id_col)).join(
        F.broadcast(lab), F.col(id_col) == F.col("_n"), "left"
    ).select(
        id_col, F.coalesce("_lab", F.col(id_col)).alias("cluster_id")
    )


def _cc_loop(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str,
    a_col: str,
    b_col: str,
    max_iters: int,
) -> DataFrame:
    edges = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    # localCheckpoint, not persist: it truncates lineage, so the candidate-
    # generation DAG upstream (e.g. the LSH band join) is evaluated exactly
    # once and its shuffle files become ContextCleaner-collectable right
    # away. persist() keeps the full lineage pinned, which across an
    # iterative loop accumulates every round's shuffle on local disk — the
    # r10 sf16 dedup board (800k docs, ~70M candidate edges) measured that
    # accumulation filling the 126 GB local dir and killing the JVM.
    edges = edges.localCheckpoint(eager=True)
    labels = nodes.select(F.col(id_col).alias("node"), F.col(id_col).alias("label"))
    labels = labels.localCheckpoint(eager=True)
    prev_sum = None
    for _ in range(max_iters):
        nbr = (
            edges.join(labels, edges.src == labels.node)
            .groupBy("dst")
            .agg(F.min("label").alias("_nbr"))
        )
        stepped = (
            labels.join(nbr, labels.node == nbr.dst, "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("_nbr", "label")).alias("label"),
            )
        )
        # pointer jumping: label <- label(label)
        ptr = labels.select(
            F.col("node").alias("_pn"), F.col("label").alias("_pl")
        )
        # each round's labels are localCheckpoint-ed, NOT persist()-ed:
        # persist keeps the round's lineage chained through every prior
        # round, so no round's shuffle files are ever collectable and an
        # eviction recomputes the whole history. The checkpoint cuts the
        # chain — one round of shuffle lives at a time, and the blocks of
        # round N-1 free when its DF is garbage-collected. (On a durable
        # cluster use checkpoint() with a checkpoint dir for the same
        # effect plus executor-loss recovery.)
        jumped = (
            stepped.join(ptr, stepped.label == F.col("_pn"), "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("_pl", "label")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        cur_sum = jumped.agg(F.sum("label")).collect()[0][0]
        labels = jumped
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select(
        F.col("node").alias(id_col), F.col("label").alias("cluster_id")
    )
