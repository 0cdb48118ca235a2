"""Stage 3 — canonicalization: exact dedup + fuzzy merge of entity nodes.

Blarify deduplicates purely by deterministic ID — dict-insert by md5 key
(reference: blarify/graph/graph.py:37-47, id calc
blarify/graph/node/utils/id_calculator.py:10-12) plus a relative-id join
for cross-version identity (utils/relative_id_calculator.py:3-7). Web
entities additionally need fuzzy merge (D5 in SURVEY.md §2.4): the same
real-world entity surfaces under near-duplicate names.

Spark-first design, no UDFs anywhere in this stage:

1. exact dedup      — groupBy(entity_id) (the md5-key merge, D1)
2. blocking         — MinHash-LSH: char-3-gram shingles -> H minhashes ->
                      B bands -> explode band keys -> self-join per bucket.
                      All hashing is native (index-seeded xxhash64),
                      so signatures are deterministic under any
                      parallelism. Candidate pairs are O(near-dups), never
                      the O(n^2) cross join.
3. verification     — exact Jaccard over shingle arrays (array_intersect /
                      array_union) >= threshold.
4. components       — iterative min-label propagation over the similarity
                      graph (bounded rounds, localCheckpoint per round to
                      cut lineage — SURVEY.md §4 custom piece #3).
5. canonical id     — min(entity_id) per component (deterministic), then
                      edge endpoints remapped by join.

Scale notes: the only shuffles are groupBy(band_key) (uniform md5-like
keys), the pair self-join, and the per-round groupBy(node) min — each keyed
by hashes, so skew-free by construction. Rounds are O(log n) for real
near-dup clusters (diameter is tiny); ROUNDS_MAX bounds pathology like
blarify's DFS depth cap 20 (repositories/graph_db_manager/queries.py:938).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from blarify_spark.functions.checkpoint import cut_lazy, cut_lineage

# MinHash-LSH parameters: H = BANDS * ROWS_PER_BAND.
NUM_HASHES = 32
BANDS = 8
ROWS_PER_BAND = 4
JACCARD_THRESHOLD = 0.55
ROUNDS_MAX = 20
# LSH hygiene: a band bucket holding more than this many nodes is
# non-discriminative (stopword-like shingle pattern) and would produce a
# quadratic pair blowup; standard practice is to drop it — any truly
# similar pair inside also collides in a smaller bucket of another band
# with high probability.
MAX_BUCKET = 256
# Similarity graphs with at most this many (directed) pair rows take the
# local union-find path inside connected_components — ~32 MB of id pairs,
# the same order as a broadcast-join threshold. Larger graphs run the
# distributed min-propagation loop.
CC_LOCAL_MAX_PAIRS = 1_000_000

# Corporate/organizational suffix tokens ignored for name similarity.
_SUFFIXES = ["inc", "corp", "corporation", "ltd", "llc", "co", "company", "gmbh"]


def normalized_name(col) -> F.Column:  # noqa: ANN001
    """Lower, strip punctuation, drop corporate suffix tokens, rejoin."""
    tokens = F.filter(
        F.split(F.lower(F.regexp_replace(col, r"[^A-Za-z0-9\s]", " ")), r"\s+"),
        lambda t: (F.length(t) > 0) & ~t.isin(*_SUFFIXES),
    )
    return F.array_join(tokens, " ")


def char_shingles(col, k: int = 3) -> F.Column:  # noqa: ANN001
    """Distinct character k-grams of a string, natively.

    substring() is 1-indexed; pad short names to at least k chars so every
    node has >= 1 shingle.
    """
    # rpad truncates longer strings, so only pad when shorter than k
    padded = F.when(F.length(col) < k, F.rpad(col, k, "_")).otherwise(col)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(padded) - (k - 1)),
            lambda i: padded.substr(i, F.lit(k)),
        )
    )


def build_entity_nodes(linked_triples: DataFrame) -> DataFrame:
    """Entity node table from linked triple endpoints (exact dedup, D1).

    node_id == entity_id (already an md5 of canonical name or NIL surface);
    groupBy merges re-observations exactly like blarify's dict-insert.
    """
    subj = linked_triples.select(
        F.col("subj_id").alias("node_id"), F.col("subj_name").alias("name")
    )
    obj = linked_triples.select(
        F.col("obj_id").alias("node_id"), F.col("obj_name").alias("name")
    )
    return (
        subj.unionByName(obj)
        .groupBy("node_id")
        .agg(
            F.min("name").alias("name"),  # deterministic representative
            F.count(F.lit(1)).alias("n_mentions"),
        )
    )


def _minhash_signature(shingle_col) -> F.Column:  # noqa: ANN001
    """H deterministic minhashes as an array<long>, fully native.

    h_i(s) = xxhash64(i, s) — the literal index seeds an independent hash
    family member; no modular arithmetic, no long overflow.

    (Reference form — lsh_bands_raw computes the identical values via
    explode + codegen min-aggregates; see the note there.)
    """

    def _hash_fn(i: int):
        return lambda s: F.xxhash64(F.lit(i), s)

    sigs = [
        F.array_min(F.transform(shingle_col, _hash_fn(i)))
        for i in range(NUM_HASHES)
    ]
    return F.array(*sigs)


def lsh_bands(nodes: DataFrame) -> DataFrame:
    """The LSH band table (node_id, shingles, band_key), bucket-capped.

    The raw band table is materialized here (eager lineage cut):
    downstream it fans out to FIVE consumers (both sides of the bucket
    self-join, the bucket-size histogram, and the two shingle re-joins),
    and without a materialization barrier AQE launches each consumer's
    leaf stage independently — the whole signature pipeline then
    executes once PER CONSUMER (observed: ~12 concurrent duplicate
    32-task stages at bench scale). One job builds the table; every
    consumer reads blocks."""
    return cap_bands(lsh_bands_raw(nodes).transform(cut_lineage))


def lsh_bands_raw(nodes: DataFrame) -> DataFrame:
    """UNCAPPED band rows: a node's bands depend only on its own name,
    while the MAX_BUCKET guard depends on the whole node set and is
    applied afterwards (cap_bands).

    Signature computation is explode + codegen min-aggregates instead of
    H interpreted higher-order array passes: Catalyst lambdas
    (transform/array_min) are evaluated per element OUTSIDE whole-stage
    codegen, while min(xxhash64(i, sh)) over the exploded shingles stays
    inside codegen with map-side partial aggregation (the same rewrite
    measured ~2x on the document dedup path, operators/dedup.py). The
    min values are IDENTICAL to the _minhash_signature form — same
    xxhash64(i, shingle) family over the same distinct shingles — so band
    keys and every downstream pair are unchanged. When `nodes` arrives
    hash-partitioned by node_id (it is a groupBy(node_id) product in
    every caller), neither the signature aggregation nor the shingle
    re-join inserts an Exchange.
    """
    prepared = nodes.select(
        "node_id",
        char_shingles(normalized_name(F.col("name"))).alias("shingles"),
    )
    sig_rows = (
        prepared.select("node_id", F.explode("shingles").alias("_sh"))
        .groupBy("node_id")
        .agg(
            *[
                F.min(F.xxhash64(F.lit(i), F.col("_sh"))).alias(f"_h{i}")
                for i in range(NUM_HASHES)
            ]
        )
    )

    # left join: a node with a null/empty shingle set has no exploded
    # rows and thus no sig row; null _h columns then reproduce exactly
    # what the HOF form computed (concat_ws skips nulls), keeping the
    # band keys bit-identical for every input.
    bands = prepared.join(sig_rows, "node_id", "left").select(
        "node_id",
        "shingles",
        F.explode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.lit(bi),
                            *[
                                F.col(f"_h{bi * ROWS_PER_BAND + r}")
                                for r in range(ROWS_PER_BAND)
                            ],
                        )
                    )
                    for bi in range(BANDS)
                ]
            )
        ).alias("band_key"),
    )

    return bands


def cap_bands(bands: DataFrame) -> DataFrame:
    """Drop oversized (non-discriminative) buckets before any self-join."""
    sizes = bands.groupBy("band_key").agg(F.count(F.lit(1)).alias("_bn"))
    return bands.join(
        sizes.filter(F.col("_bn") <= MAX_BUCKET).select("band_key"),
        "band_key",
        "left_semi",
    )


def candidate_pairs(nodes: DataFrame) -> DataFrame:
    """LSH-blocked candidate pairs verified by exact Jaccard.

    Returns (src, dst) with src < dst, Jaccard >= threshold.
    """
    return pairs_from_bands(lsh_bands(nodes))


def pairs_from_bands(bands: DataFrame) -> DataFrame:
    """Verified pairs from a (capped) band table.

    The bucket self-join carries ONLY (band_key, node_id) — the shingle
    arrays are re-attached per node AFTER candidate dedup (the
    payload-slim shuffle rule, guide §2.3, mirrored from
    operators/dedup.py's minhash path): the B-way band explode would
    otherwise ship every node's shingle array B times through the
    self-join exchange, and each surviving candidate pair twice more
    through dropDuplicates."""
    left = bands.select(F.col("band_key"), F.col("node_id").alias("src"))
    right = bands.select(F.col("band_key"), F.col("node_id").alias("dst"))
    pairs = (
        left.join(right, "band_key")
        .filter(F.col("src") < F.col("dst"))
        .drop("band_key")
        .dropDuplicates(["src", "dst"])
    )
    sh_map = bands.select("node_id", "shingles").dropDuplicates(["node_id"])
    pairs = pairs.join(
        sh_map.select(
            F.col("node_id").alias("src"), F.col("shingles").alias("src_sh")
        ),
        "src",
    ).join(
        sh_map.select(
            F.col("node_id").alias("dst"), F.col("shingles").alias("dst_sh")
        ),
        "dst",
    )
    jaccard = F.size(F.array_intersect("src_sh", "dst_sh")) / F.size(
        F.array_union("src_sh", "dst_sh")
    )
    return (
        pairs.withColumn("jaccard", F.round(jaccard, 6))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("src", "dst", "jaccard")
    )


def connected_components(
    nodes: DataFrame, pairs: DataFrame, max_rounds: int = ROUNDS_MAX
) -> DataFrame:
    """Min-label propagation over the similarity graph.

    Returns (node_id, canon_id). Nodes without any similar pair map to
    themselves. Each round: every node takes the min label over itself and
    its neighbors; terminate when no label changes (checked via a cheap
    aggregate) or after max_rounds.
    """
    # Adaptive physical strategy (the broadcast-join-threshold idea
    # applied to graph labeling): a near-dup similarity graph is usually
    # a TINY fraction of the corpus, and the distributed loop costs
    # 2 driver actions x ~5 rounds of pure job latency regardless of
    # data size. When the pair set provably fits the driver (bounded
    # probe, same class as a 10MB broadcast), run union-find locally in
    # O(pairs a(n)) and skip the loop entirely; anything larger takes
    # the distributed path. Labels are identical: both compute
    # canon = min(node_id) over each connected component.
    #
    # Materialize the UNDIRECTED pair list exactly once (eager lineage
    # cut), then probe and fetch from the materialized blocks: the
    # expensive LSH-verify pipeline executes in ONE job, and the size
    # probe plus (on the local path) the full collect are near-free block
    # reads. The former shape — checkpoint of the 2x symmetric list, a
    # limit().count() probe and a separate collect — executed that
    # pipeline up to three times. (A limit(N).collect() probe is NOT an
    # alternative: executeTake scans partitions in doubling rounds and
    # re-runs the whole pipeline per round — measured 14 sequential
    # full-pipeline jobs at bench scale.)
    pairs_m = pairs.select("src", "dst").transform(cut_lineage)
    n_pairs = pairs_m.count()
    if n_pairs <= CC_LOCAL_MAX_PAIRS // 2:
        # <= ~32MB of id pairs by the bound above (undirected rows are
        # half the former symmetric count, hence MAX/2)
        head = pairs_m.collect()
        parent: dict[str, str] = {}

        def find(x: str) -> str:
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in head:
            ra, rb = find(row[0]), find(row[1])
            if ra != rb:
                # min-id representative keeps labels identical to the
                # min-propagation loop
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        touched = set(parent)
        touched.update(r[0] for r in head)
        touched.update(r[1] for r in head)
        labels_rows = sorted({(x, find(x)) for x in touched})
        spark = nodes.sparkSession
        labels = spark.createDataFrame(
            labels_rows or [], "node_id string, canon_id string"
        )
        return nodes.select("node_id").join(
            labels.select(F.col("node_id").alias("n2"), "canon_id"),
            F.col("node_id") == F.col("n2"),
            "left",
        ).select(
            "node_id",
            F.coalesce("canon_id", "node_id").alias("canon_id"),
        )

    # the symmetric edge list reads the materialized pair blocks twice —
    # no further checkpoint needed for the per-round loop joins
    sym = pairs_m.union(
        pairs_m.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # Iterate ONLY over pair-connected nodes: near-duplicate clusters are
    # a tiny fraction of a web corpus, so every loop job runs on the
    # small connected subset; singletons get identity labels via one
    # final left join.
    connected = sym.select(F.col("src").alias("node_id")).distinct()
    labels = connected.select(
        F.col("node_id"), F.col("node_id").alias("canon_id")
    ).transform(cut_lineage)

    prev_sig = None
    for _ in range(max_rounds):
        # FUSED round (round-3): neighbor-min propagation AND pointer
        # jumping (path halving) in ONE join + ONE aggregation. Union the
        # similarity edges with per-node pointer edges (v -> canon(v)),
        # resolve every edge head through the current labels, and take the
        # min per tail:
        #   new(v) = min( canon(u) for u in N(v),  canon(canon(v)) )
        # Labels are monotone non-increasing with canon(x) <= x, so
        # canon(canon(v)) <= canon(v) covers the self term, and the
        # pointer edge doubles as the path-halving jump — the separate
        # least()/left-join and the jump self-join of the round-2 loop
        # collapse into this single shuffle pair.
        ptr = labels.select(
            F.col("node_id").alias("src"), F.col("canon_id").alias("dst")
        )
        new_labels = (
            sym.unionByName(ptr)
            .join(
                labels.select(
                    F.col("node_id").alias("dst"), F.col("canon_id").alias("lab")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("lab").alias("canon_id"))
            .withColumnRenamed("src", "node_id")
            # deferred cut (r6): materializes inside the signature
            # aggregate below (full-coverage), so each round is one
            # driver action instead of checkpoint-job + collect
            .transform(cut_lazy)
        )
        # convergence check: order-independent signature of the labeling
        # (one narrow aggregate — no join) compared across rounds;
        # bit_xor never overflows (ANSI mode) and is permutation-invariant
        sig = new_labels.agg(
            F.bit_xor(F.xxhash64("node_id", "canon_id")).alias("s")
        ).collect()[0]["s"]
        labels = new_labels
        if sig == prev_sig:
            break
        prev_sig = sig
    # singletons (never in any pair) map to themselves
    return nodes.select("node_id").join(
        labels.select(F.col("node_id").alias("n2"), "canon_id"),
        F.col("node_id") == F.col("n2"),
        "left",
    ).select(
        "node_id", F.coalesce("canon_id", F.col("node_id")).alias("canon_id")
    )


def canonicalize(
    linked_triples: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Full canonicalization: returns (nodes, edges, mapping).

    nodes: canon_id, name, n_mentions (merged)
    edges: subj_id/obj_id remapped to canonical ids, self-loops dropped
    mapping: node_id -> canon_id
    """
    # raw_nodes feeds blocking AND the final node agg; mapping feeds the
    # node agg AND both edge-endpoint remaps — cut both so each is
    # computed once (they are tiny relative to the corpus). A lineage cut,
    # not persist(): the cache manager matches cached plans by logical
    # plan, so a persisted scan of a parquet path that was since re-landed
    # (materialize_stage's staging + rename) would serve the old rows to
    # the next canonicalize of that path — and each call would leak two
    # cached DataFrames.
    raw_nodes = build_entity_nodes(linked_triples).transform(cut_lazy)
    pairs = candidate_pairs(raw_nodes)
    mapping = connected_components(raw_nodes, pairs).transform(cut_lazy)

    nodes = (
        raw_nodes.join(mapping, "node_id")
        .groupBy("canon_id")
        .agg(
            F.min("name").alias("name"),
            F.sum("n_mentions").alias("n_mentions"),
        )
    )

    smap = mapping.select(
        F.col("node_id").alias("subj_id"), F.col("canon_id").alias("subj_canon")
    )
    omap = mapping.select(
        F.col("node_id").alias("obj_id"), F.col("canon_id").alias("obj_canon")
    )
    edges = (
        linked_triples.join(smap, "subj_id")
        .join(omap, "obj_id")
        .select(
            "url",
            "warc_ts",
            "pred",
            "span_start",
            "span_end",
            F.col("subj_canon").alias("subj_id"),
            F.col("obj_canon").alias("obj_id"),
            "subj",
            "obj",
        )
        .filter(F.col("subj_id") != F.col("obj_id"))
    )
    return nodes, edges, mapping
