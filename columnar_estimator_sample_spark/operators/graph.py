"""Graph operators: connected components over near-duplicate pairs.

A dedup pipeline's last stage turns pairwise matches into CLUSTERS: if
a~b and b~c, all three are one duplicate group even when a~c was never
observed. This transitive closure is a connected-components problem over
the (sparse) pair graph emitted by the LSH stages.

Scale design (the Pregel / large-star-small-star family):
  * The edge set is the OUTPUT of LSH candidate verification — already
    ~linear in corpus size, never O(N²); the blobs/texts are long gone,
    each edge is two int64 ids.
  * Min-label propagation runs as supersteps: each superstep is one
    shuffle of (src -> label) plus one groupBy(dst) MIN — both map-side
    combinable. Convergence in O(log diameter) supersteps; near-dup
    clusters are tiny cliques in practice, so 2-3 supersteps suffice.
  * Convergence is detected with a single scalar aggregate (labels only
    ever decrease, so an unchanged SUM(label) means a fixpoint) — no
    driver-side materialization of the label table.

The reference has no graph surface; this extends its dedup tier the way
a 100 TB training-data pipeline needs (see SURVEY.md north-star
extensions). Oracle: DuckDB ``WITH RECURSIVE`` reachability over the
same MinHash pairs (operators/dedup.py `_minhash_pair_ctes`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel

from columnar_estimator_sample_spark.operators.dedup import (
    _minhash_pair_ctes, q_dedup_minhash_lsh,
)
from columnar_estimator_sample_spark.registry import register
from columnar_estimator_sample_spark.sources.tables import (
    memo,
    table,
)

MAX_SUPERSTEPS = 25  # >= log2(diameter) for any plausible dup graph


def connected_components(pairs: DataFrame,
                         src: str = "doc_a", dst: str = "doc_b") -> DataFrame:
    """Min-label propagation over an undirected pair list.

    Returns (doc_id, cluster_id) for every node that appears in ``pairs``,
    where cluster_id = min(doc_id) of the node's component.

    Each superstep: neighbor-min via join(edges, labels) + groupBy MIN,
    element-wise least() with the current label, then a POINTER JUMP
    (adopt the label of your label's node) — reach doubles per superstep,
    so even path-shaped components (sorted-neighborhood ER produces runs
    of near-identical records chained through the window) converge in
    O(log diameter) supersteps, not O(diameter). The driver loop only
    ever pulls ONE scalar per superstep (the label-sum convergence
    probe); labels/edges stay distributed, and each superstep's label
    table is LAZILY local-checkpointed so plan lineage stays constant
    across supersteps (on a cluster: ``checkpoint()`` to the cluster FS,
    same shape).
    """
    # symmetrize in ONE pass over the pair list: a union of two selects
    # would evaluate the (often expensive) upstream pair pipeline twice
    # when the persist materializes — explode emits both directions from
    # a single scan (measured: ER matched-pair init 4.1 s -> 2.6 s cold)
    edges = (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .select(F.explode(F.array(
            F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
            F.struct(F.col("b").alias("src"), F.col("a").alias("dst"))
        )).alias("e"))
        .select("e.src", "e.dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = (
        edges.select(F.col("src").alias("doc_id")).distinct()
        .select("doc_id", F.col("doc_id").alias("label"))
        .localCheckpoint(eager=False)
    )
    # No standalone init probe: prev_sum=None makes the first fixpoint
    # test vacuous (labels only decrease, so convergence needs two
    # consecutive equal sums) — one job round-trip saved per CC call.
    prev_sum = None
    for _ in range(MAX_SUPERSTEPS):
        nbr_min = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_min"))
        )
        stepped = (
            labels.join(nbr_min, labels.doc_id == nbr_min.dst, "left")
            .select(
                "doc_id",
                F.least(F.col("label"),
                        F.coalesce(F.col("nbr_min"), F.col("label")))
                .alias("label"))
        )
        # pointer jump: labels are node ids, so every label resolves
        # against the full label table (inner join is total)
        parent = stepped.select(F.col("doc_id").alias("p_id"),
                                F.col("label").alias("p_lab"))
        new_labels = (
            stepped.join(parent, stepped.label == F.col("p_id"))
            .select("doc_id",
                    F.least(F.col("label"), F.col("p_lab")).alias("label"))
            .localCheckpoint(eager=False)
        )
        new_sum = new_labels.agg(F.sum("label")).collect()[0][0]
        labels = new_labels
        if new_sum == prev_sum:  # labels only decrease: fixpoint reached
            break
        prev_sum = new_sum
    edges.unpersist()
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def _clusters_oracle() -> str:
    return f"""
    WITH RECURSIVE {_minhash_pair_ctes()},
    edges AS MATERIALIZED (
        -- MATERIALIZED: DuckDB inlines plain CTEs, which would re-run the
        -- whole MinHash pipeline on every recursive iteration (~100x).
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(doc_id, label) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, r.label
        FROM reach r JOIN edges e ON e.src = r.doc_id
    ),
    comp AS (
        SELECT doc_id, MIN(label) AS cluster_id FROM reach GROUP BY doc_id
    )
    SELECT cluster_id, doc_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM comp
    ORDER BY cluster_id, doc_id
    """


def _savings_oracle() -> str:
    return f"""
    WITH RECURSIVE {_minhash_pair_ctes()},
    edges AS MATERIALIZED (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(doc_id, label) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, r.label
        FROM reach r JOIN edges e ON e.src = r.doc_id
    ),
    comp AS (
        SELECT doc_id, MIN(label) AS cluster_id FROM reach GROUP BY doc_id
    ),
    rem AS (
        SELECT doc_id FROM comp WHERE doc_id != cluster_id
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_removed,
           CAST(SUM(CASE WHEN r.doc_id IS NOT NULL THEN d.n_chars
                         ELSE 0 END) AS BIGINT) AS chars_removed,
           CAST((1000 * SUM(CASE WHEN r.doc_id IS NOT NULL
                                 THEN d.n_chars ELSE 0 END))
                // GREATEST(SUM(d.n_chars), 1) AS BIGINT)
               AS removed_permille
    FROM documents d LEFT JOIN rem r ON d.doc_id = r.doc_id
    GROUP BY d.source
    ORDER BY d.source
    """


@register("q_dedup_savings", oracle=_savings_oracle())
def q_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source storage-savings report for near-dup dedup: documents
    clustered by q_dedup_clusters lose every non-survivor (survivor =
    the cluster's min doc_id, which IS the cluster label), and this
    query accounts what a rewrite would reclaim — docs removed, chars
    removed, and the permille of each source's bytes that are near-dup
    redundancy. The text twin of q_media_dedup's reclaimable-bytes
    census, and the headline number a corpus-triage dashboard leads
    with.

    Scale: reuses the LSH pair -> connected-components pipeline (edges
    ~linear in corpus, log-round pointer jumping); the accounting itself
    is one doc_id-keyed left join against the (small) clustered set and
    a |sources|-sized aggregate."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars")
    pairs = q_dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    removed = (connected_components(pairs)
               .filter(F.col("doc_id") != F.col("cluster_id"))
               .select("doc_id", F.lit(1).alias("is_removed")))
    j = docs.join(removed, "doc_id", "left")
    rm_chars = F.sum(F.when(F.col("is_removed") == 1, F.col("n_chars"))
                     .otherwise(0))
    return (
        j.groupBy("source")
        .agg(F.count("*").cast("long").alias("n_docs"),
             F.sum("n_chars").cast("long").alias("total_chars"),
             F.sum(F.when(F.col("is_removed") == 1, 1).otherwise(0))
             .cast("long").alias("n_removed"),
             rm_chars.cast("long").alias("chars_removed"))
        # greatest(_, 1): an all-empty source (total_chars = 0) yields 0
        # permille in both engines instead of Spark-NULL vs DuckDB
        # division error (the supp_pm convention, see q_sequence_mining)
        .withColumn("removed_permille",
                    F.expr("(1000 * chars_removed)"
                           " DIV greatest(total_chars, 1)")
                    .cast("long"))
        .orderBy("source")
    )


def neardup_removed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id) frame of near-dup cluster non-survivors (CC over the
    verified MinHash-LSH pairs, label = min doc_id), checkpointed and
    memoized per (session, sf_dir). The LSH + iterative-CC build is the
    expensive shared term of the cluster-consuming queries; the memo is
    the per-session stand-in for the materialized cluster-membership
    table a production pipeline writes once. q_dedup_apply reads it
    today; q_dedup_clusters / q_dedup_savings still build their own
    LSH + CC pass."""
    def build() -> DataFrame:
        pairs = q_dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
        return (connected_components(pairs)
                .filter(F.col("doc_id") != F.col("cluster_id"))
                .select("doc_id")
                .localCheckpoint(eager=False))
    return memo(spark, ("neardup_removed", sf_dir), build)


def _dedup_apply_oracle() -> str:
    return f"""
    WITH RECURSIVE {_minhash_pair_ctes()},
    edges AS MATERIALIZED (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(doc_id, label) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, r.label
        FROM reach r JOIN edges e ON e.src = r.doc_id
    ),
    comp AS (
        SELECT doc_id, MIN(label) AS cluster_id FROM reach GROUP BY doc_id
    ),
    rem AS (
        SELECT doc_id FROM comp WHERE doc_id != cluster_id
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS docs_before,
           CAST(SUM(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_removed,
           CAST(SUM(CASE WHEN r.doc_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_after,
           CAST(SUM(CASE WHEN r.doc_id IS NULL
                         THEN len(string_split(d.text, ' '))
                         ELSE 0 END) AS BIGINT) AS tokens_after,
           CAST(SUM(CASE WHEN r.doc_id IS NULL THEN d.n_chars
                         ELSE 0 END) AS BIGINT) AS chars_after,
           CAST(1000000 * SUM(CASE WHEN r.doc_id IS NOT NULL
                                   THEN 1 ELSE 0 END)
                // COUNT(*) AS BIGINT) AS removed_ppm
    FROM documents d LEFT JOIN rem r ON d.doc_id = r.doc_id
    GROUP BY d.lang
    ORDER BY d.lang
    """


@register("q_dedup_apply", oracle=_dedup_apply_oracle())
def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level near-dup dedup APPLY — the kept-corpus manifest:
    every document whose near-dup cluster (q_dedup_clusters semantics:
    connected components over verified MinHash-LSH pairs; exact dups
    collapse inside the same components at jaccard = 1) elects it as
    the min-doc_id survivor stays; every other cluster member goes.
    Census per language of the TRAINING-READY corpus: docs before /
    removed / after, tokens and characters after, integer-ppm removed
    share. q_dedup_savings prices the removal per source (the triage
    view); this is the after-state per language (the manifest handed to
    tokenization).

    Scale: identical plan family to q_dedup_savings — LSH pairs ~linear
    in corpus, log-round pointer-jumping CC on the (small) clustered
    set, then one doc_id-keyed left join and a |langs|-row aggregate;
    survivor selection adds nothing (the component label IS the
    survivor id)."""
    docs = (table(spark, sf_dir, "documents")
            .select("doc_id", "lang", "n_chars",
                    F.size(F.split("text", " ")).cast("long")
                    .alias("n_toks")))
    removed = (neardup_removed(spark, sf_dir)
               .select("doc_id", F.lit(1).alias("is_removed")))
    return (docs.join(removed, "doc_id", "left")
            .groupBy("lang")
            .agg(F.count("*").cast("long").alias("docs_before"),
                 F.sum(F.when(F.col("is_removed") == 1, 1).otherwise(0))
                 .cast("long").alias("docs_removed"),
                 F.sum(F.when(F.col("is_removed").isNull(), 1)
                       .otherwise(0)).cast("long").alias("docs_after"),
                 F.sum(F.when(F.col("is_removed").isNull(),
                              F.col("n_toks")).otherwise(0))
                 .cast("long").alias("tokens_after"),
                 F.sum(F.when(F.col("is_removed").isNull(),
                              F.col("n_chars")).otherwise(0))
                 .cast("long").alias("chars_after"))
            .withColumn("removed_ppm",
                        F.expr("CAST(1000000 * docs_removed"
                               " DIV docs_before AS BIGINT)"))
            .orderBy("lang"))


@register("q_dedup_clusters", oracle=_clusters_oracle())
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS: connected components over the verified
    MinHash-LSH near-dup pairs (transitive closure of a~b). Returns every
    clustered document with its cluster id (= min doc_id in the
    component, the retention survivor) and the cluster size.

    Scale: edges are the LSH output (~linear in corpus); label
    propagation converges in O(log diameter) supersteps of two narrow
    shuffles each; the final window shares the cluster_id partitioning.
    """
    pairs = q_dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs)
    w = Window.partitionBy("cluster_id")
    return (
        comp.select("cluster_id", "doc_id")
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .orderBy("cluster_id", "doc_id")
    )


# ---------------------------------------------------------------------------
# PageRank over the derived trade graph
# ---------------------------------------------------------------------------

PR_SCALE = 1_000_000_000   # PageRank mass fixed-point scale (1e-9 units)
PPM = 1_000_000            # edge-probability scale (parts per million)
PR_ITERS = 3


def _pagerank_oracle() -> str:
    # Dialect-defensive SQL (this query was driver-red in r3 while green
    # under the pinned local DuckDB): no correlated/scalar subqueries (the
    # 1-row CTEs join in via explicit CROSS JOIN), no NOT IN (anti-join is
    # LEFT JOIN ... IS NULL), and every integer expression that passes
    # through SUM() is CAST back to BIGINT so no HUGEINT ever reaches a
    # result column or a subsequent division.
    damp_num, damp_den = 17, 20  # damping 0.85 as a rational
    ctes = ["""
    edges AS (
        SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN orders   o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS tw
             FROM edges GROUP BY src),
    p AS (
        SELECT e.src, e.dst,
               CAST((e.w * %(ppm)d) // o.tw AS BIGINT) AS p_ppm
        FROM edges e JOIN outw o ON e.src = o.src
    ),
    srcs AS (SELECT DISTINCT src FROM p),
    nodes AS (SELECT n_nationkey AS node FROM nation),
    base AS (
        SELECT CAST((3 * CAST(%(scale)d AS BIGINT)) // (%(den)d * n)
                    AS BIGINT) AS b,
               CAST(%(scale)d // n AS BIGINT) AS init,
               CAST(n AS BIGINT) AS n
        FROM (SELECT COUNT(*) AS n FROM nodes)
    ),
    it0 AS (SELECT nodes.node, base.init AS pr
            FROM nodes CROSS JOIN base)
    """ % {"ppm": PPM, "scale": PR_SCALE, "den": damp_den}]
    for i in range(PR_ITERS):
        ctes.append("""
    dang%(cur)d AS (
        SELECT CAST(COALESCE(SUM(CASE WHEN s.src IS NULL THEN t.pr END), 0)
                    // MAX(b.n) AS BIGINT) AS dshare
        FROM it%(cur)d t
        LEFT JOIN srcs s ON t.node = s.src
        CROSS JOIN base b
    ),
    it%(nxt)d AS (
        SELECT n.node,
               CAST(b.b + (%(num)d * (COALESCE(s.s, 0) + d.dshare))
                    // %(den)d AS BIGINT) AS pr
        FROM nodes n
        CROSS JOIN base b
        CROSS JOIN dang%(cur)d d
        LEFT JOIN (
            SELECT p.dst,
                   CAST(SUM((t.pr * p.p_ppm) // %(ppm)d) AS BIGINT) AS s
            FROM p JOIN it%(cur)d t ON p.src = t.node
            GROUP BY p.dst) s
        ON n.node = s.dst
    )""" % {"cur": i, "nxt": i + 1, "num": damp_num, "den": damp_den,
            "ppm": PPM})
    return ("WITH " + ",".join(ctes) + f"""
    SELECT n_name, CAST(pr AS BIGINT) AS pr_scaled
    FROM it{PR_ITERS} JOIN nation ON node = n_nationkey
    ORDER BY pr_scaled DESC, n_name
    """)


@register("q_pagerank", oracle=_pagerank_oracle())
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 unrolled iterations) over the nation
    trade graph: a directed edge supplier-nation -> customer-nation per
    lineitem, weighted by shipment count.

    Exactness: mass is a fixed-point long (1e-9 units) and edge
    probabilities are parts-per-million longs; every step is integer
    multiply + floor-division + exact integer SUM, so both engines
    produce identical bits — no float accumulation anywhere. Dangling
    nodes (nations with no suppliers at small SF) redistribute their
    mass uniformly each superstep — the standard dangling-mass fix —
    so total mass is conserved up to bounded floor-division loss (the
    invariant the test pins).

    Scale: the expensive part is distilling 100 TB of lineitems into the
    |nations|² weighted edge list — three key joins (dimension sides
    broadcast) and one hash aggregate. The iteration loop then runs on
    the aggregated graph, whose size is independent of data volume; each
    superstep is a (src)-keyed broadcast join + (dst)-keyed aggregate,
    the same shape as connected_components above.
    """
    from columnar_estimator_sample_spark.sources.tables import table
    li = table(spark, sf_dir, "lineitem").select("l_suppkey", "l_orderkey")
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = table(spark, sf_dir, "nation")

    edges = (li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
             .join(orders, li.l_orderkey == orders.o_orderkey)
             .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
             .groupBy(F.col("s_nationkey").alias("src"),
                      F.col("c_nationkey").alias("dst"))
             .agg(F.count("*").cast("long").alias("w")))
    outw = edges.groupBy("src").agg(F.sum("w").alias("tw"))
    p = (edges.join(outw, "src")
         .select("src", "dst",
                 F.expr(f"(w * {PPM}) DIV tw").alias("p_ppm"))
         .cache())

    nodes = nation.select(F.col("n_nationkey").alias("node"))
    # |nation| is a bounded broadcast dim (25 rows) — this count() reads
    # one tiny parquet footer, and the integer literals it yields keep
    # the 3 unrolled supersteps free of an extra broadcast join each.
    # (Fact-table counts are never taken at plan time — see
    # q_markov_stationary / q_copurchase for the folded-count contract.)
    n_nodes = nodes.count()
    init = PR_SCALE // n_nodes
    base = (3 * PR_SCALE) // (20 * n_nodes)

    pr = nodes.select("node", F.lit(init).cast("long").alias("pr"))
    for _ in range(PR_ITERS):
        # r15 (guide §2.4): edge contributions and the dangling-mass
        # total were two separate passes over pr (a left_anti + agg and
        # a join + agg). One LEFT join of pr against the edge list
        # yields both: a node with out-edges emits one (dst, c) row per
        # edge; a dangling node emits a single null-dst row carrying
        # its whole mass, so the null-dst group of ONE aggregate is
        # exactly the old dtot. Identical integer arithmetic.
        contrib_all = (pr.join(p, pr.node == p.src, "left")
                       .select("dst",
                               F.when(F.col("src").isNull(), F.col("pr"))
                               .otherwise(F.expr(
                                   f"(pr * p_ppm) DIV {PPM}")).alias("c"))
                       .groupBy("dst").agg(F.sum("c").alias("s")))
        dang = (contrib_all.filter(F.col("dst").isNull())
                .agg(F.coalesce(F.sum("s"), F.lit(0)).alias("dtot"))
                .select(F.expr(f"dtot DIV {n_nodes}").alias("dshare")))
        contrib = contrib_all.filter(F.col("dst").isNotNull())
        pr = (nodes.join(contrib, nodes.node == contrib.dst, "left")
              .crossJoin(F.broadcast(dang))
              .select("node",
                      (F.lit(base)
                       + F.expr("(17 * (COALESCE(s, 0) + dshare)) DIV 20"))
                      .cast("long").alias("pr")))
    return (pr.join(F.broadcast(nation), pr.node == nation.n_nationkey)
            .select("n_name", F.col("pr").alias("pr_scaled"))
            .orderBy(F.desc("pr_scaled"), "n_name"))


# ---------------------------------------------------------------------------
# Triangle counting / clustering coefficients (nation trade graph)
# ---------------------------------------------------------------------------


def _triangle_oracle() -> str:
    # MATERIALIZED stops DuckDB 1.0 from inlining e0's 4-way fact join
    # into every reader of und (one copy planned a nested-loop supplier
    # x customer join): same answer, sf0.01 1.3 s / 1.1 GB peak RSS ->
    # 0.05 s / 0.16 GB, and sf0.1 no longer runs out of memory
    return """
    WITH e0 AS MATERIALIZED (
        SELECT DISTINCT s.s_nationkey AS src, c.c_nationkey AS dst
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN orders   o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    und AS MATERIALIZED (
        SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM e0 WHERE src <> dst
    ),
    tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM und e1
        JOIN und e2 ON e2.a = e1.b
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    pernode AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
            SELECT x AS node FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri
        ) GROUP BY node
    ),
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
            SELECT a AS node FROM und UNION ALL SELECT b FROM und
        ) GROUP BY node
    )
    SELECT n.n_name, d.degree,
           COALESCE(p.n_tri, 0) AS n_triangles,
           (2000 * COALESCE(p.n_tri, 0)) // (d.degree * (d.degree - 1))
               AS clustering_pm
    FROM deg d
    LEFT JOIN pernode p ON p.node = d.node
    JOIN nation n ON n.n_nationkey = d.node
    WHERE d.degree >= 2
    ORDER BY n_triangles DESC, n_name
    """


@register("q_triangle_count", oracle=_triangle_oracle())
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts and local clustering coefficients
    (integer permille of closed wedges) over the undirected nation trade
    graph — the standard cohesion metric for community structure.

    Scale: like q_pagerank, the 100 TB fact table first distills to a
    |nations|²-bounded edge list (dimension joins broadcast). Triangle
    enumeration is the canonical two-join on ORIENTED edges (a < b),
    which counts each triangle exactly once and — on general graphs —
    bounds intermediate wedges by orienting from the lower id; the
    degree-ordered variant (orient low-degree -> high-degree) is the
    documented skew escape hatch when node degrees are power-law.
    Joins are keyed on node ids; nothing is ever materialized beyond
    edges and wedges."""
    from columnar_estimator_sample_spark.sources.tables import table
    li = table(spark, sf_dir, "lineitem").select("l_suppkey", "l_orderkey")
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")

    e0 = (li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
          .join(orders, li.l_orderkey == orders.o_orderkey)
          .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
          .select(F.col("s_nationkey").alias("src"),
                  F.col("c_nationkey").alias("dst"))
          .filter(F.col("src") != F.col("dst"))
          .distinct())
    und = (e0.select(F.least("src", "dst").alias("a"),
                     F.greatest("src", "dst").alias("b"))
           .distinct().cache())

    e1 = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = und.select(F.col("a").alias("y2"), F.col("b").alias("z"))
    e3 = und.select(F.col("a").alias("x3"), F.col("b").alias("z3"))
    tri = (e1.join(e2, e1.y == e2.y2)
           .join(e3, (F.col("x") == F.col("x3")) & (F.col("z") == F.col("z3")))
           .select("x", "y", "z"))

    pernode = (tri.select(F.col("x").alias("node"))
               .unionAll(tri.select("y")).unionAll(tri.select("z"))
               .groupBy("node").agg(F.count("*").cast("long").alias("n_tri")))
    deg = (und.select(F.col("a").alias("node")).unionAll(und.select("b"))
           .groupBy("node").agg(F.count("*").cast("long").alias("degree")))
    return (deg.filter(F.col("degree") >= 2)
            .join(pernode, "node", "left")
            .withColumn("n_triangles", F.coalesce("n_tri", F.lit(0)))
            .join(F.broadcast(
                table(spark, sf_dir, "nation")
                .select(F.col("n_nationkey").alias("node"), "n_name")), "node")
            .select("n_name", "degree", "n_triangles",
                    F.expr("(2000 * n_triangles)"
                           " DIV (degree * (degree - 1))")
                    .alias("clustering_pm"))
            .orderBy(F.desc("n_triangles"), "n_name"))


# ---------------------------------------------------------------------------
# Cheapest route (Bellman-Ford min-plus, unrolled)
# ---------------------------------------------------------------------------

BF_HOPS = 3
BF_SOURCE = 0  # n_nationkey of the source nation
_CENTS = "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"


def _bf_oracle() -> str:
    steps = []
    for k in range(1, BF_HOPS + 1):
        steps.append(f"""
    d{k} AS (
        SELECT node, MIN(dist) AS dist FROM (
            SELECT node, dist FROM d{k-1}
            UNION ALL
            SELECT e.dst AS node, d{k-1}.dist + e.cost AS dist
            FROM d{k-1} JOIN e ON e.src = d{k-1}.node
        ) GROUP BY node
    )""")
    return f"""
    WITH e0 AS (
        SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
               CAST(COUNT(*) AS BIGINT) AS w,
               MIN({_CENTS}) AS cost
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ), stats AS (
        SELECT CAST(SUM(w) AS BIGINT) // COUNT(*) AS avgw FROM e0
    ), e AS (
        SELECT src, dst, cost FROM e0, stats WHERE w >= avgw
    ), d0 AS (
        SELECT CAST({BF_SOURCE} AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
    ),{",".join(steps)}
    SELECT n.n_name, d{BF_HOPS}.dist AS dist_cents
    FROM d{BF_HOPS} JOIN nation n ON n.n_nationkey = d{BF_HOPS}.node
    ORDER BY dist_cents, n_name
    """


@register("q_cheapest_route", oracle=_bf_oracle())
def q_cheapest_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest trade route from nation {BF_SOURCE} within {BF_HOPS}
    hops: Bellman-Ford min-plus iteration as relational algebra. The 100
    TB lineitem table distills (same shape as q_pagerank) into a
    |nations|² edge list whose cost is the MINIMUM shipment price in
    exact cents; edges are pruned to heavier-than-average lanes (an
    integer, data-derived threshold) so the route structure is
    non-trivial; then {BF_HOPS} unrolled relax steps — each one
    edge-join + MIN aggregate, the min-plus semiring product — give the
    cheapest reachable cost per destination.

    Scale: the iteration runs on the distilled graph (size independent
    of corpus), each relax is a broadcast join + map-side-combining MIN;
    only reachable nodes carry rows, so no infinity sentinels exist in
    either engine. Integer cents end to end -> bit-identical oracle."""
    from columnar_estimator_sample_spark.sources.tables import table
    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_extendedprice")
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = table(spark, sf_dir, "nation")

    e0 = (li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
          .join(orders, li.l_orderkey == orders.o_orderkey)
          .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
          .groupBy(F.col("s_nationkey").alias("src"),
                   F.col("c_nationkey").alias("dst"))
          .agg(F.count("*").cast("long").alias("w"),
               F.min(F.expr(_CENTS)).alias("cost")))
    stats = e0.agg(F.expr("CAST(SUM(w) AS BIGINT) div COUNT(*)")
                   .alias("avgw"))
    e = (e0.crossJoin(F.broadcast(stats))
         .filter(F.col("w") >= F.col("avgw"))
         .select("src", "dst", "cost"))
    d = (nation.filter(F.col("n_nationkey") == BF_SOURCE)
         .select(F.col("n_nationkey").cast("long").alias("node"),
                 F.lit(0).cast("long").alias("dist")))
    for _ in range(BF_HOPS):
        relaxed = (d.join(F.broadcast(e), d.node == e.src)
                   .select(F.col("dst").alias("node"),
                           (F.col("dist") + F.col("cost")).alias("dist")))
        d = (d.unionByName(relaxed)
             .groupBy("node").agg(F.min("dist").alias("dist")))
    return (d.join(F.broadcast(nation), d.node == nation.n_nationkey)
            .select("n_name", F.col("dist").alias("dist_cents"))
            .orderBy("dist_cents", "n_name"))


# ---------------------------------------------------------------------------
# Two-hop reach (sparse matrix square)
# ---------------------------------------------------------------------------

REACH_TOP = 15


@register(
    "q_two_hop_reach",
    oracle=f"""
    WITH e AS (
        SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ), a2 AS (
        SELECT e1.src, e2.dst,
               CAST(SUM(CAST(e1.w AS HUGEINT) * e2.w) AS HUGEINT) AS paths
        FROM e e1 JOIN e e2 ON e2.src = e1.dst
        GROUP BY 1, 2
    )
    SELECT ns.n_name AS src_nation, nd.n_name AS dst_nation,
           CAST(a2.paths AS BIGINT) AS n_paths
    FROM a2
    JOIN nation ns ON ns.n_nationkey = a2.src
    JOIN nation nd ON nd.n_nationkey = a2.dst
    ORDER BY n_paths DESC, src_nation, dst_nation
    LIMIT {REACH_TOP}
    """)
def q_two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted two-hop reach: the square of the trade-graph adjacency
    matrix, computed as relational algebra — A² is literally one
    equi-join on the shared middle vertex plus a (src, dst) SUM of
    weight products, which is how every distributed sparse
    matrix-matrix multiply decomposes. Reports the heaviest indirect
    trade corridors (supplier nation -> middleman -> customer nation).

    Scale: the matrix itself is the |nations|² distillation (the
    expensive part is the same 100 TB -> edge-list collapse as
    q_pagerank); the square touches only aggregated edges. 128-bit
    lanes for the path products."""
    from columnar_estimator_sample_spark.sources.tables import table
    li = table(spark, sf_dir, "lineitem").select("l_suppkey", "l_orderkey")
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = table(spark, sf_dir, "nation")
    e = (li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
         .join(orders, li.l_orderkey == orders.o_orderkey)
         .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
         .groupBy(F.col("s_nationkey").alias("src"),
                  F.col("c_nationkey").alias("dst"))
         .agg(F.count("*").cast("long").alias("w")))
    e1 = e.select(F.col("src"), F.col("dst").alias("mid"),
                  F.col("w").alias("w1"))
    e2 = e.select(F.col("src").alias("mid"), F.col("dst"),
                  F.col("w").alias("w2"))
    a2 = (e1.join(e2, "mid")
          .groupBy("src", "dst")
          .agg(F.expr("CAST(SUM(CAST(w1 AS DECIMAL(38,0)) * w2)"
                      " AS DECIMAL(38,0))").alias("paths")))
    ns = nation.select(F.col("n_nationkey").alias("src"),
                       F.col("n_name").alias("src_nation"))
    nd = nation.select(F.col("n_nationkey").alias("dst"),
                       F.col("n_name").alias("dst_nation"))
    return (a2.join(F.broadcast(ns), "src").join(F.broadcast(nd), "dst")
            .select("src_nation", "dst_nation",
                    F.col("paths").cast("long").alias("n_paths"))
            .orderBy(F.desc("n_paths"), "src_nation", "dst_nation")
            .limit(REACH_TOP))


# ---------------------------------------------------------------------------
# Degree distribution (log2 buckets)
# ---------------------------------------------------------------------------


@register(
    "q_degree_histogram",
    oracle="""
    WITH e AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), deg AS (
        SELECT c, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY c
    ), b AS (
        SELECT length(bin(d)) - 1 AS log2_bucket, d FROM deg
    )
    SELECT log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           MIN(d) AS min_degree, MAX(d) AS max_degree
    FROM b
    GROUP BY log2_bucket
    ORDER BY log2_bucket
    """)
def q_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the customer-part bipartite graph in
    log2 buckets (bucket = floor(log2(degree)), computed by the
    bin()-string bit-length trick — no floating log): the power-law
    fingerprint every graph pipeline reads before choosing join
    strategies (a heavy tail here is exactly why the engine carries
    salting, AQE skew handling, and degree-ordered triangle
    orientation).

    Scale: distinct edges -> per-node degree -> |buckets| rows; all
    hash aggregates with map-side partials."""
    from columnar_estimator_sample_spark.sources.tables import table
    orders = table(spark, sf_dir, "orders").select("o_orderkey",
                                                   "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    e = (orders.join(li, orders.o_orderkey == li.l_orderkey)
         .select(F.col("o_custkey").alias("c"),
                 F.col("l_partkey").alias("p"))
         .distinct())
    deg = e.groupBy("c").agg(F.count("*").cast("long").alias("d"))
    return (deg.select(
                (F.length(F.expr("bin(d)")) - 1).cast("long")
                .alias("log2_bucket"), "d")
            .groupBy("log2_bucket")
            .agg(F.count("*").cast("long").alias("n_nodes"),
                 F.min("d").alias("min_degree"),
                 F.max("d").alias("max_degree"))
            .orderBy("log2_bucket"))


# ---------------------------------------------------------------------------
# Label-propagation communities (synchronous LPA, unrolled rounds)
# ---------------------------------------------------------------------------

LPA_ROUNDS = 3
LPA_MINSUP_ITEM = 3   # FLOOR (oracle constant); runtime uses basket_minsups
LPA_MINSUP_PAIR = 2   # FLOOR: edge = parts co-bought in >= 2 orders
LPA_TOP = 15


def _lpa_ctes(rounds: int = LPA_ROUNDS) -> str:
    """Shared unrolled-LPA CTE prefix (edges + rounds of labels)."""
    ctes = [f"""
    items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    freq AS (
        SELECT l_partkey FROM items GROUP BY l_partkey
        HAVING COUNT(*) >= {LPA_MINSUP_ITEM}
    ),
    pairs AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM items a
        JOIN items b ON a.l_orderkey = b.l_orderkey
                    AND a.l_partkey < b.l_partkey
        JOIN freq fa ON fa.l_partkey = a.l_partkey
        JOIN freq fb ON fb.l_partkey = b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {LPA_MINSUP_PAIR}
    ),
    edges AS (
        SELECT u AS src, v AS dst FROM pairs
        UNION ALL
        SELECT v AS src, u AS dst FROM pairs
    ),
    l0 AS (SELECT DISTINCT src AS node, src AS lab FROM edges)"""]
    for r in range(rounds):
        ctes.append(f"""
    n{r} AS (
        SELECT e.dst AS node, l.lab, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM edges e JOIN l{r} l ON l.node = e.src
        GROUP BY 1, 2
    ),
    l{r + 1} AS (
        SELECT node, lab FROM (
            SELECT node, lab,
                   row_number() OVER (PARTITION BY node
                                      ORDER BY cnt DESC, lab) AS rn
            FROM n{r})
        WHERE rn = 1
    )""")
    return "WITH " + ",".join(ctes)





def _lpa_label_frame(spark: SparkSession, sf_dir: str):
    """Mine the co-purchase support graph and run LPA_ROUNDS synchronous
    label-propagation rounds. Returns (edges, labels): edges is the
    directed-both-ways list (lazily checkpointed — it feeds every round
    plus the init, and would otherwise be re-mined 4x; measured -30% at
    sf0.1), labels is (node, lab) after the final round."""
    from columnar_estimator_sample_spark.operators.basket import (
        basket_minsups, frequent_pair_supports,
    )
    from columnar_estimator_sample_spark.sources.tables import table
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
    # Pair mining as BASKET EXPANSION, not an order-key self-join (r6 —
    # the r5 sf1 profile put ~6 of LPA's 8.3 s in the mining stage's
    # distinct + two self-join shuffles + SMJ sorts): shared a-priori
    # miner with q_copurchase, see basket.frequent_pair_supports.
    # Thresholds are the shared relative-support derivation (== the
    # LPA_MINSUP_* floors at gate/bench SFs).
    pairs = frequent_pair_supports(
        li, *basket_minsups(sf_dir))[0].select("u", "v")
    edges = (pairs.select(F.col("u").alias("src"), F.col("v").alias("dst"))
             .unionAll(pairs.select(F.col("v").alias("src"),
                                    F.col("u").alias("dst"))))
    edges = edges.localCheckpoint(eager=False)
    labels = edges.select(F.col("src").alias("node")).distinct() \
        .withColumn("lab", F.col("node"))
    for _ in range(LPA_ROUNDS):
        # labels is O(nodes), far below O(edges) on any support-pruned
        # co-purchase graph — but do NOT force F.broadcast here: AQE
        # already converts the join to broadcast from runtime stats, and
        # an explicit hint schedules a separate broadcast-build job per
        # round (A/B at both scales: plain 1.17/1.35 s vs forced
        # broadcast 1.57/1.91 s for the 3 rounds at sf0.1/sf1). The vote
        # count is map-side combinable either way.
        # r15 (guide §2.4): ONE exchange per superstep instead of two.
        # The vote count groups by (dst, lab) and the argmax by dst; a
        # single hash repartition on dst satisfies BOTH (HashPartitioning
        # on a subset of the grouping keys is a valid clustered
        # distribution, and aggregate output partitioning is
        # alias-aware), so the (dst, lab) exchange and the node exchange
        # collapse into one. The vote rows it ships are raw (one per
        # edge) instead of map-side-combined — on the support-pruned
        # graph that is a narrow O(E) frame either way.
        votes = (edges.join(labels, edges.src == labels.node)
                 .repartition(F.col("dst"))
                 .groupBy(F.col("dst").alias("node"), "lab")
                 .agg(F.count("*").cast("long").alias("cnt")))
        # top-1 per node as a MAX over (cnt, -lab) structs — one hash
        # aggregate with partial combine instead of a sort-based window:
        # struct order = max cnt first, then max(-lab) = smallest label,
        # exactly the (cnt DESC, lab ASC) tie-break the oracle replays.
        labels = (votes.groupBy("node")
                  .agg(F.max(F.struct(
                      F.col("cnt"),
                      (-F.col("lab")).alias("neglab"))).alias("m"))
                  .select("node", (-F.col("m.neglab")).alias("lab")))
    return edges, labels



def _lpa_oracle(rounds: int = LPA_ROUNDS) -> str:
    return (_lpa_ctes(rounds) + f"""
    SELECT lab AS community, CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MIN(node) AS BIGINT) AS min_member,
           CAST(MAX(node) AS BIGINT) AS max_member
    FROM l{rounds}
    GROUP BY lab
    ORDER BY n_members DESC, community
    LIMIT {LPA_TOP}""")


def _modularity_oracle(rounds: int = LPA_ROUNDS) -> str:
    return (_lpa_ctes(rounds) + f""",
    labeled AS (
        SELECT ls.lab AS lab_s, ld.lab AS lab_d
        FROM edges e
        JOIN l{rounds} ls ON ls.node = e.src
        JOIN l{rounds} ld ON ld.node = e.dst
    ), mm AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS m2 FROM labeled
    ), dc AS (
        SELECT lab_s AS lab,
               CAST(COUNT(*) AS HUGEINT) AS d_c,
               CAST(SUM(CASE WHEN lab_s = lab_d THEN 1 ELSE 0 END)
                    AS HUGEINT) AS intra2
        FROM labeled GROUP BY 1
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
               CAST(SUM(m.m2 * dc.intra2 - dc.d_c * dc.d_c)
                    AS HUGEINT) AS nu
        FROM dc, mm m GROUP BY m.m2
    )
    SELECT a.n_communities,
           CAST(m.m2 // 2 AS BIGINT) AS n_edges,
           CAST(CASE WHEN a.nu >= 0 THEN (1000 * a.nu) // (m.m2 * m.m2)
                     ELSE -((1000 * -a.nu) // (m.m2 * m.m2)) END
                AS BIGINT) AS modularity_pm
    FROM agg a, mm m""")



@register("q_lpa_communities", oracle=_lpa_oracle())
def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) over the co-purchase graph (edges = part pairs bought
    together in >= 2 orders, the q_copurchase support graph): labels
    start as node ids, and each round every node adopts the MODE of its
    neighbors' labels (ties to the smallest label — fully deterministic,
    no RNG ordering). Three synchronous rounds unrolled declaratively;
    the report is the largest label groups ("what parts cluster into a
    category").

    Scale: each round is one shuffle of (edge endpoint, label) + a
    combiner-friendly count + a per-node top-1 window — O(E) per round,
    the Pregel-without-Pregel shape that connected_components() above
    uses; the co-purchase edge list is a-priori pruned so E stays far
    below all-pairs. Deterministic mode tie-breaks make LPA's usually
    order-dependent result exactly reproducible (and oracle-checkable)."""
    edges, labels = _lpa_label_frame(spark, sf_dir)
    return (labels.groupBy(F.col("lab").alias("community"))
            .agg(F.count("*").cast("long").alias("n_members"),
                 F.min("node").cast("long").alias("min_member"),
                 F.max("node").cast("long").alias("max_member"))
            .orderBy(F.desc("n_members"), "community")
            .limit(LPA_TOP))


@register("q_modularity", oracle=_modularity_oracle())
def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA partition — the quality score that
    says whether q_lpa_communities found real structure: Q = Σ_c
    (intra-edge share − expected share under the degree-preserving null
    model), here in exact permille via the directed-double identity
    Q·M² = Σ_c (M·D_c − d_c²) with M = directed edge count, D_c =
    directed intra-community edges, d_c = community degree sum. Q > 0
    means denser-than-chance communities; all arithmetic rides
    DECIMAL(38,0) (HUGEINT in the oracle) with sign-split division per
    the pinned contract.

    Scale: two broadcast-sized label joins onto the O(E) edge list, one
    per-community aggregate, one scalar rollup — modularity costs one
    more pass over edges than LPA itself."""
    edges, labels = _lpa_label_frame(spark, sf_dir)
    ls = labels.select(F.col("node").alias("src"),
                       F.col("lab").alias("lab_s"))
    ld = labels.select(F.col("node").alias("dst"),
                       F.col("lab").alias("lab_d"))
    labeled = (edges.join(ls, "src").join(ld, "dst")
               .select("lab_s", "lab_d"))
    D = "DECIMAL(38,0)"
    mm = labeled.agg(F.expr(f"CAST(COUNT(*) AS {D})").alias("m2"))
    dc = (labeled.groupBy("lab_s")
          .agg(F.expr(f"CAST(COUNT(*) AS {D})").alias("d_c"),
               F.expr(f"CAST(SUM(CASE WHEN lab_s = lab_d THEN 1"
                      f" ELSE 0 END) AS {D})").alias("intra2")))
    agg = (dc.crossJoin(F.broadcast(mm))
           .agg(F.count("*").cast("long").alias("n_communities"),
                F.expr(f"CAST(SUM(m2 * intra2 - d_c * d_c) AS {D})")
                .alias("nu"),
                F.expr(f"CAST(MIN(m2) AS {D})").alias("m2")))
    return agg.select(
        "n_communities",
        F.expr("CAST(m2 DIV 2 AS BIGINT)").alias("n_edges"),
        F.expr(
            "CAST(CASE WHEN nu >= 0 THEN (1000 * nu) div (m2 * m2)"
            " ELSE -((1000 * -nu) div (m2 * m2)) END AS BIGINT)")
        .alias("modularity_pm"))


# ---------------------------------------------------------------------------
# k-core peeling census over the co-purchase graph
# ---------------------------------------------------------------------------

KCORE_K = 3         # keep nodes with >= 3 surviving co-purchase partners
KCORE_ROUNDS = 12   # covers observed convergence (11 rounds at sf0.01,
                    # <=3 at sf0.001/sf0.1); census rows expose the tail
                    # so an unconverged run is visible, never silent


def _kcore_oracle() -> str:
    from columnar_estimator_sample_spark.operators.basket import (
        ITEM_MINSUP, PAIR_MINSUP,
    )
    ctes = [f"""
    items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
              FROM lineitem),
    freq AS (SELECT p FROM items GROUP BY p
             HAVING COUNT(*) >= {ITEM_MINSUP}),
    e0 AS MATERIALIZED (
        SELECT a.p AS a, b.p AS b
        FROM items a JOIN items b USING (ok)
        JOIN freq fa ON fa.p = a.p JOIN freq fb ON fb.p = b.p
        WHERE a.p < b.p
        GROUP BY 1, 2 HAVING COUNT(*) >= {PAIR_MINSUP}
    )"""]
    for r in range(KCORE_ROUNDS):
        ctes.append(f"""
    d{r} AS MATERIALIZED (
        SELECT n, COUNT(*) AS d FROM (
            SELECT a AS n FROM e{r} UNION ALL SELECT b FROM e{r}
        ) GROUP BY n
    ),
    e{r + 1} AS MATERIALIZED (
        SELECT a, b FROM e{r}
        JOIN (SELECT n FROM d{r} WHERE d >= {KCORE_K}) x ON x.n = a
        JOIN (SELECT n FROM d{r} WHERE d >= {KCORE_K}) y ON y.n = b
    )""")
    ctes.append(f"""
    d{KCORE_ROUNDS} AS MATERIALIZED (
        SELECT n, COUNT(*) AS d FROM (
            SELECT a AS n FROM e{KCORE_ROUNDS}
            UNION ALL SELECT b FROM e{KCORE_ROUNDS}
        ) GROUP BY n
    )""")
    census = "\n    UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS round,"
        f" (SELECT CAST(COUNT(*) AS BIGINT) FROM d{r}) AS n_nodes,"
        f" (SELECT CAST(COUNT(*) AS BIGINT) FROM e{r}) AS n_edges"
        for r in range(KCORE_ROUNDS + 1))
    return "WITH " + ",".join(ctes) + f"""
    {census}
    ORDER BY round
    """


@register("q_kcore_census", oracle=_kcore_oracle())
def q_kcore_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling census: iteratively remove parts with fewer than
    {K} surviving co-purchase partners (the a-priori-pruned support
    graph of q_copurchase, un-truncated) and report (nodes, edges) after
    every peel round — the cohesion ladder that separates a graph's
    dense engine-room from its fringe (recommendation seeding, influence
    cores, fraud rings). The census format makes convergence auditable:
    equal consecutive rows ARE the fixpoint, so a too-shallow unroll is
    visible in the output rather than silently wrong.

    Scale: each round is one degree aggregate (two-column union, map-side
    combinable) plus a semi-join of edges against surviving nodes —
    O(E) per round; rounds are unrolled with a lazy local checkpoint per
    round (cluster: ``checkpoint()``), so plan depth stays constant. The
    peel count is data-dependent (11 rounds here); production uses the
    same census to pick the unroll budget, and bucket-by-degree variants
    (peel all k ascending) reuse the identical round shape."""
    from columnar_estimator_sample_spark.operators.basket import (
        basket_minsups,
    )
    from columnar_estimator_sample_spark.sources.tables import table
    item_ms, pair_ms = basket_minsups(sf_dir)  # == floors at gate SFs
    li = table(spark, sf_dir, "lineitem")
    items = (li.select("l_orderkey", "l_partkey").distinct()
             .select(F.col("l_orderkey").alias("ok"),
                     F.col("l_partkey").alias("p")))
    freq = (items.groupBy("p").agg(F.count("*").alias("c"))
            .filter(F.col("c") >= item_ms).select("p"))
    a = items.join(F.broadcast(freq), "p").select(
        "ok", F.col("p").alias("a"))
    b = items.join(F.broadcast(freq), "p").select(
        "ok", F.col("p").alias("b"))
    e = (a.join(b, "ok").filter(F.col("a") < F.col("b"))
         .groupBy("a", "b").agg(F.count("*").alias("s"))
         .filter(F.col("s") >= pair_ms)
         .select("a", "b")
         .localCheckpoint(eager=False))
    census = []
    for r in range(KCORE_ROUNDS + 1):
        deg = (e.select(F.col("a").alias("n"))
               .unionAll(e.select(F.col("b").alias("n")))
               .groupBy("n").agg(F.count("*").alias("d")))
        census.append(
            deg.agg(F.count("*").cast("long").alias("n_nodes"))
            .crossJoin(e.agg(F.count("*").cast("long").alias("n_edges")))
            .select(F.lit(r).cast("long").alias("round"),
                    "n_nodes", "n_edges"))
        if r < KCORE_ROUNDS:
            keep = deg.filter(F.col("d") >= KCORE_K).select("n")
            e = (e.join(keep.select(F.col("n").alias("a")), "a")
                 .join(keep.select(F.col("n").alias("b")), "b")
                 .select("a", "b")
                 .localCheckpoint(eager=False))
    out = census[0]
    for c in census[1:]:
        out = out.unionAll(c)
    return out.orderBy("round")


# ---------------------------------------------------------------------------
# Link prediction: Resource-Allocation index over the co-purchase graph
# ---------------------------------------------------------------------------

LP_TOP = 20
# Fixed-point scale for the 1/deg(z) contributions: integer pico-units
# keep the score sum order-free exact (house rule: no libm — RA is the
# log-free sibling of Adamic-Adar, Zhou/Lu/Zhang 2009).
LP_PICO = 1_000_000_000_000


@register(
    "q_link_prediction",
    oracle=_lpa_ctes(0) + f""",
    deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM edges GROUP BY src
    ), cand AS (
        SELECT e1.dst AS a, e2.dst AS b, e1.src AS mid
        FROM edges e1 JOIN edges e2
          ON e1.src = e2.src AND e1.dst < e2.dst
    ), scored AS (
        SELECT a, b,
               CAST(COUNT(*) AS BIGINT) AS n_common,
               CAST(SUM({LP_PICO} // d.d) AS BIGINT) AS ra_pico
        FROM cand JOIN deg d ON d.node = cand.mid
        GROUP BY a, b
    )
    SELECT a AS part_a, b AS part_b, n_common,
           CAST(ra_pico AS DOUBLE) / {LP_PICO} AS ra_score
    FROM scored s
    WHERE NOT EXISTS (SELECT 1 FROM pairs p
                      WHERE p.u = s.a AND p.v = s.b)
    ORDER BY ra_pico DESC, part_a, part_b
    LIMIT {LP_TOP}
    """,
)
def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the support-pruned co-purchase graph: for every
    NON-adjacent part pair with at least one common neighbor, the
    Resource-Allocation index RA(a,b) = sum over common neighbors z of
    1/deg(z) (Zhou/Lu/Zhang 2009 — the logarithm-free sibling of
    Adamic-Adar, and the better-performing one in their benchmark). The
    top-scoring absent edges are the "customers also bought" candidates a
    recommender backfills.

    Scale: candidates come from the two-hop expansion of the a-priori
    support-pruned edge list (same bounded-degree regime as
    q_triangle_count — the minsup floor caps deg(z), so the wedge count
    is Σ deg(z)² over frequent parts, never all-pairs); contributions are
    exact integer pico-units (one deterministic trailing division per
    output row); the known-edge removal is one anti-join AFTER the wedge
    aggregation has already collapsed the frame to distinct pairs."""
    from columnar_estimator_sample_spark.operators.basket import (
        basket_minsups, frequent_pair_supports,
    )
    from columnar_estimator_sample_spark.sources.tables import table
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
    pairs = frequent_pair_supports(
        li, *basket_minsups(sf_dir))[0].select("u", "v")
    pairs = pairs.localCheckpoint(eager=False)
    edges = (pairs.select(F.col("u").alias("src"), F.col("v").alias("dst"))
             .unionAll(pairs.select(F.col("v").alias("src"),
                                    F.col("u").alias("dst"))))
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d"))
    e1 = edges.select(F.col("src").alias("mid"), F.col("dst").alias("a"))
    e2 = edges.select(F.col("src").alias("mid"), F.col("dst").alias("b"))
    scored = (
        e1.join(e2, "mid").filter(F.col("a") < F.col("b"))
        .join(deg, F.col("mid") == F.col("node"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"),
             F.sum(F.expr(f"{LP_PICO} DIV d")).cast("long")
             .alias("ra_pico")))
    absent = scored.join(
        pairs, (scored.a == pairs.u) & (scored.b == pairs.v), "left_anti")
    return (absent.select(
                F.col("a").alias("part_a"), F.col("b").alias("part_b"),
                "n_common",
                (F.col("ra_pico").cast("double") / LP_PICO)
                .alias("ra_score"),
                "ra_pico")
            .orderBy(F.desc("ra_pico"), "part_a", "part_b")
            .limit(LP_TOP)
            .drop("ra_pico"))
