package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Exact.{dec, q6}

/** Graph analytics over relational-derived edge lists. The dedup
  * clustering path (DedupCluster) already ships label propagation /
  * connected components; this adds the other staple iterative graph
  * op — PageRank — in a DETERMINISTIC integer-arithmetic formulation
  * so even an iterative float algorithm sits under the DuckDB
  * hash-match gate.
  *
  * Determinism: ranks are int64 micro-units. One iteration is
  *   contrib(u→v) = r(u) div deg(u)                 (integer floor div)
  *   r'(v)        = 150000 + (850 · Σ contrib) div 1000
  * Every step is integer math, so partial-aggregate merge order can't
  * perturb a single bit — the same recurrence unrolls as plain SQL in
  * the oracle. (A float PageRank would be merge-order-dependent and
  * unverifiable across engines; the integer recurrence IS the
  * operator contract here, with ~1e-6 quantization per step.)
  *
  * Scale shape per iteration: one shuffle keyed by edge src (the
  * contribution join — AQE broadcasts the rank table while it fits,
  * degenerating to sort-merge at web scale) and one aggregate shuffle
  * keyed by dst. Iterations are a fixed small count, each a
  * self-contained stage — at real scale you'd localCheckpoint the
  * rank frame every few rounds exactly as DedupCluster does for its
  * propagation loop.
  *
  * HITS hubs and authorities run the same integer-deterministic
  * recurrence shape; degree assortativity and the rich-club
  * coefficient read the supplier↔customer and co-purchase edge sets.
  */
object GraphOps {

  /** Bipartite supplier↔customer graph from who-supplied-whom:
    * lineitem ⋈ orders gives (supplier, customer) pairs; both
    * directions become edges so rank mass actually circulates.
    * Node ids are disambiguated into one integer namespace
    * (supplier → 2k, customer → 2k+1). */
  val q75Pagerank: QueryDef = QueryDef.withOracle(
    """WITH pair AS (
      |  SELECT DISTINCT l_suppkey * 2 AS s, o_custkey * 2 + 1 AS c
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |e AS (
      |  SELECT s AS src, c AS dst FROM pair
      |  UNION
      |  SELECT c AS src, s AS dst FROM pair),
      |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
      |n AS (SELECT DISTINCT src AS node FROM e
      |      UNION SELECT DISTINCT dst AS node FROM e),
      |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM n),
      |s1 AS (SELECT e.dst AS node, CAST(sum(r0.r // deg.d) AS BIGINT) AS c
      |       FROM e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src
      |       GROUP BY e.dst),
      |r1 AS (SELECT n.node,
      |         150000 + (850 * COALESCE(s1.c, 0)) // 1000 AS r
      |       FROM n LEFT JOIN s1 ON n.node = s1.node),
      |s2 AS (SELECT e.dst AS node, CAST(sum(r1.r // deg.d) AS BIGINT) AS c
      |       FROM e JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src
      |       GROUP BY e.dst),
      |r2 AS (SELECT n.node,
      |         150000 + (850 * COALESCE(s2.c, 0)) // 1000 AS r
      |       FROM n LEFT JOIN s2 ON n.node = s2.node),
      |s3 AS (SELECT e.dst AS node, CAST(sum(r2.r // deg.d) AS BIGINT) AS c
      |       FROM e JOIN r2 ON e.src = r2.node JOIN deg ON e.src = deg.src
      |       GROUP BY e.dst),
      |r3 AS (SELECT n.node,
      |         150000 + (850 * COALESCE(s3.c, 0)) // 1000 AS r
      |       FROM n LEFT JOIN s3 ON n.node = s3.node)
      |SELECT node, r AS rank_micro FROM r3""".stripMargin
  ) { (s, d) =>
    val pair = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") * 2).as("s"), (col("o_custkey") * 2 + 1).as("c"))
      .distinct()
    val e = pair.select(col("s").as("src"), col("c").as("dst"))
      .union(pair.select(col("c").as("src"), col("s").as("dst")))
      .distinct()
    pagerank(e, iterations = 3).select(col("node"), col("r").as("rank_micro"))
  }

  /** Reusable deterministic PageRank over an (src, dst) edge list —
    * see the object doc for the integer recurrence. Out-degree rides
    * ON the edge list (one join, before the loop) so each iteration
    * is exactly one join + one aggregate. The edge frames stay LAZY:
    * for a handful of rounds, recomputing the edge derivation per
    * round beats materializing it (measured 2.3× faster at sf0.1 than
    * an eager localCheckpoint of both frames — checkpoint I/O isn't
    * free). Past `checkpointAfter` rounds the balance flips and the
    * DedupCluster pattern kicks in: the plan re-nests the edge
    * lineage each round and optimizer input grows superlinearly, so
    * the loop cuts lineage with an eager localCheckpoint every
    * `checkpointAfter` rounds. */
  def pagerank(e: DataFrame, iterations: Int,
      checkpointAfter: Int = 5): DataFrame = {
    val ewd = e.join(e.groupBy(col("src")).agg(count(lit(1)).as("d")), "src")
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val fixedEwd =
      if (iterations > checkpointAfter) ewd.localCheckpoint(true) else ewd
    val fixedNodes =
      if (iterations > checkpointAfter) nodes.localCheckpoint(true) else nodes
    var r = fixedNodes.withColumn("r", lit(1000000L))
    for (i <- 1 to iterations) {
      val contrib = fixedEwd.join(r, fixedEwd("src") === r("node"))
        .select(col("dst").as("node"), expr("r div d").as("contrib"))
        .groupBy(col("node")).agg(sum(col("contrib")).as("c"))
      r = fixedNodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          expr("150000L + (850L * coalesce(c, 0L)) div 1000L").as("r"))
      if (i % checkpointAfter == 0 && i < iterations)
        r = r.localCheckpoint(true)
    }
    r
  }

  /** Distinct (order, basket-item) rows — the bipartite base both
    * co-occurrence queries project. Baskets above `maxBasket` items
    * are dropped BEFORE pair generation: a basket of size B emits
    * C(B,2) pairs map-side, so the cap bounds per-group work exactly
    * like q41's shingle df-cap (TPC-H baskets are ≤ ~13 items; the
    * cap only exists for adversarial inputs and is mirrored in the
    * oracle SQL so semantics stay exact when it binds). */
  val DefaultMaxBasket: Int = 1000

  /** Size-capped distinct-item baskets: one row per group with the
    * SORTED distinct item array, 2 ≤ |is| ≤ maxBasket. ONE exchange
    * (partial collect_set dedups map-side) that every basket-grain
    * consumer — the pair generator, per-item basket counts, basket
    * totals — reads instead of re-deriving distinct rows + sizes +
    * join-back (the r13 port: that older chain cost three data-sized
    * exchanges before any pair was ever emitted; guide §2.4). Per-key
    * aggregate state is the basket's distinct-item set — bounded by
    * the same domain argument as q41's shingle postings (TPC-H baskets
    * are ≤ ~13 items; the cap is mirrored in the oracle SQL for
    * adversarial inputs, and ObjectHashAggregate falls back to
    * sort-based aggregation rather than OOM when a pathological key
    * exceeds memory). */
  private[operators] def cappedBaskets(groupedItems: DataFrame,
      group: String, item: String,
      maxBasket: Int = DefaultMaxBasket): DataFrame =
    groupedItems
      .groupBy(col(group))
      .agg(sort_array(collect_set(col(item))).as("is"))
      .filter(size(col("is")).between(2, maxBasket))

  /** Unordered co-occurrence pair counts from a [[cappedBaskets]]
    * frame: the i<j generators run map-side on the sorted array, and
    * the only shuffle keys by the pair itself. */
  private[operators] def basketPairCounts(baskets: DataFrame): DataFrame =
    baskets
      .select(posexplode(col("is")).as(Seq("i", "item_a")), col("is"))
      .select(col("item_a"),
        explode(slice(col("is"), col("i") + 2, size(col("is")))).as("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_groups"))

  /** Directed co-occurrence partner stream from a [[cappedBaskets]]
    * frame: every ordered (p, q), p ≠ q, item pair of every basket,
    * emitted map-side — the input shape the per-item distinct-partner
    * aggregates (q148 exact, q160 HLL) consume without ever paying
    * the base-table self-join. */
  private[operators] def directedPartners(baskets: DataFrame): DataFrame =
    baskets
      .select(explode(col("is")).as("p"), col("is"))
      .select(col("p"), explode(col("is")).as("q"))
      .filter(col("p") =!= col("q"))

  /** Co-occurrence pair counts over any (group, item) frame: for each
    * unordered item pair, the number of groups containing both. The
    * 100 TB shape is the q41 posting-list pattern — ONE shuffle
    * groups items per basket, the i<j pair generator runs map-side on
    * the capped basket array, and the only other shuffle keys by the
    * pair itself. Never a base-table self-join: that shape re-shuffles
    * the full fact table and leaves the quadratic work inside a
    * skewable join key. */
  def coOccurrencePairs(groupedItems: DataFrame, group: String, item: String,
      maxBasket: Int = DefaultMaxBasket): DataFrame =
    basketPairCounts(cappedBaskets(groupedItems, group, item, maxBasket))

  private[operators] def basketPairs(s: org.apache.spark.sql.SparkSession, d: String) =
    coOccurrencePairs(
      Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct(),
      group = "o", item = "p")
      .select(col("item_a").as("part_a"), col("item_b").as("part_b"),
        col("n_groups").as("n_orders"))

  /** Market-basket co-purchase: part pairs bought together in ≥2
    * orders (support threshold — the association-mining staple and
    * the output-size control). */
  val q86Copurchase: QueryDef = QueryDef.withOracle(
    """WITH bp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |ok AS (SELECT o FROM bp GROUP BY o HAVING count(*) BETWEEN 2 AND 1000),
      |pairs AS (
      |  SELECT a.p AS part_a, b.p AS part_b, count(*) AS n_orders
      |  FROM bp a JOIN bp b ON a.o = b.o AND a.p < b.p
      |  JOIN ok ON a.o = ok.o
      |  GROUP BY 1, 2)
      |SELECT part_a, part_b, n_orders FROM pairs
      |WHERE n_orders >= 2""".stripMargin
  ) { (s, d) =>
    basketPairs(s, d).filter(col("n_orders") >= 2)
  }

  /** Triangle + wedge census of the co-purchase graph (edges = part
    * pairs with support ≥2; the q86 output IS the edge list). Both
    * counts are plain integers, so the gate is exact.
    *
    * Triangles use the degree-ordered node-iterator (compact-forward):
    * each undirected edge is ORIENTED from its lower-(degree, id)
    * endpoint to the higher, wedges are generated by joining the
    * oriented adjacency with itself on the source, and a final
    * equi-join against the oriented edges confirms closure — each
    * triangle is counted exactly once from its lowest-key corner.
    * Orientation is the scale guarantee: wedge volume is bounded by
    * Σ C(out-deg, 2) with out-degrees capped by graph arboricity
    * (O(√|E|)), so a high-degree hub never fans out its full
    * neighborhood squared — the failure mode that makes naive
    * (id-ordered) triangle joins quadratic on power-law graphs. The
    * oracle counts the same triangles with the simple a<b<c 3-way
    * self-join (any consistent orientation yields the same count;
    * DuckDB at gate SF doesn't need the degree trick).
    * Wedges (open 2-paths, Σ C(d, 2)) ride along for the global
    * clustering-coefficient numerator/denominator pair. */
  val q85Triangles: QueryDef = QueryDef.withOracle(
    """WITH bp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |ok AS (SELECT o FROM bp GROUP BY o HAVING count(*) BETWEEN 2 AND 1000),
      |pc AS (
      |  SELECT a.p AS u, b.p AS v, count(*) AS n
      |  FROM bp a JOIN bp b ON a.o = b.o AND a.p < b.p
      |  JOIN ok ON a.o = ok.o
      |  GROUP BY 1, 2),
      |e AS (SELECT u, v FROM pc WHERE n >= 2),
      |deg AS (SELECT node, count(*) AS d FROM
      |  (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
      |  GROUP BY 1)
      |SELECT
      |  (SELECT count(*)
      |   FROM e e1 JOIN e e2 ON e1.v = e2.u
      |   JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS triangles,
      |  (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg) AS wedges""".stripMargin
  ) { (s, d) =>
    triangleCensus(basketPairs(s, d).filter(col("n_orders") >= 2)
      .select(col("part_a").as("u"), col("part_b").as("v")))
  }

  /** Degree-ordered triangle + wedge census over an undirected edge
    * list (u, v) with u < v, no duplicates: one row (triangles,
    * wedges). See [[q85Triangles]] for the algorithm contract. */
  def triangleCensus(e0: DataFrame): DataFrame = {
    // the edge list feeds the degree count AND the orientation join,
    // and the oriented adjacency is read three times (both wedge
    // sides + the closure probe) — cached, or every consumer would
    // replay the full upstream pair aggregation (the q42-sigs
    // convention). Endpoints explode map-side instead of a two-branch
    // union, which would compute e twice by itself.
    val e = e0.cache()
    val deg = e.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
      .cache()
    // orient each edge from its lower (degree, id) endpoint. The
    // degree frame is node-count-sized: small enough that AQE
    // broadcasts it at bench SF, big enough at web scale that the
    // join must be allowed to degenerate to shuffle — so no forced
    // broadcast() here, unlike the dimension-table joins
    val keyed = e
      .join(deg.select(col("node").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("d").as("dv")), "v")
    def k(dc: String, nc: String) = struct(col(dc).as("d"), col(nc).as("n"))
    val lower = k("du", "u") < k("dv", "v")
    val oriented = keyed.select(
      when(lower, col("u")).otherwise(col("v")).as("src"),
      when(lower, col("v")).otherwise(col("u")).as("dst"),
      when(lower, k("dv", "v")).otherwise(k("du", "u")).as("kd"))
      .cache()
    // wedges at the lowest-key corner: (src→a, src→b) with key(a) <
    // key(b); closure check = does oriented edge a→b exist
    val wedgeAB = oriented.select(col("src"), col("dst").as("a"), col("kd").as("ka"))
      .join(oriented.select(col("src"), col("dst").as("b"), col("kd").as("kb")),
        Seq("src"))
      .filter(col("ka") < col("kb"))
    val tri = wedgeAB
      .join(oriented.select(col("src").as("a"), col("dst").as("b")), Seq("a", "b"))
      .agg(count(lit(1)).as("triangles"))
    val wedges = deg.agg(
      coalesce(sum(expr("d * (d - 1) div 2")), lit(0L)).as("wedges"))
    tri.crossJoin(broadcast(wedges)) // two 1-row scalars (J2 pattern)
  }

  /** Seeded k-hop reachability (bounded BFS, k=2) over the
    * co-purchase graph: for every 20th part node, the count of
    * distinct neighbors at distance exactly 1 and exactly 2. The
    * missing distance primitive beside the census (q85) and the
    * components (q49): frontier expansion with exact-distance
    * semantics — hop-2 candidates are DISTINCT'd (state is bounded by
    * reachable nodes, never by path count, the difference between
    * BFS and path enumeration) and then anti-joined against hop-1 ∪
    * {seed} so "exactly 2" means shortest distance, not "some 2-edge
    * walk". Each hop is one equi-join keyed on the frontier node plus
    * one distinct — the per-round shape of DedupCluster/PageRank, so
    * deeper k is the same loop with a localCheckpoint cadence. The
    * seed predicate (key mod 20) is the user's radius-vs-cost knob:
    * all-sources 2-hop is the wedge volume (q85's Σ C(d,2)), which is
    * the right bound for a census but not for a seeded query. */
  val q101Khop: QueryDef = QueryDef.withOracle(
    """WITH bp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |ok AS (SELECT o FROM bp GROUP BY o HAVING count(*) BETWEEN 2 AND 1000),
      |pc AS (
      |  SELECT a.p AS u, b.p AS v, count(*) AS n
      |  FROM bp a JOIN bp b ON a.o = b.o AND a.p < b.p
      |  JOIN ok ON a.o = ok.o
      |  GROUP BY 1, 2),
      |e AS (SELECT u, v FROM pc WHERE n >= 2),
      |adj AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
      |seeds AS (SELECT DISTINCT a AS seed FROM adj WHERE a % 20 = 0),
      |h1 AS (
      |  SELECT DISTINCT s.seed, adj.b AS n1
      |  FROM seeds s JOIN adj ON adj.a = s.seed),
      |h2 AS (
      |  SELECT DISTINCT h1.seed, adj.b AS n2
      |  FROM h1 JOIN adj ON adj.a = h1.n1
      |  WHERE adj.b <> h1.seed
      |    AND NOT EXISTS (SELECT 1 FROM h1 x
      |                    WHERE x.seed = h1.seed AND x.n1 = adj.b)),
      |c1 AS (SELECT seed, count(*) AS n_1hop FROM h1 GROUP BY 1),
      |c2 AS (SELECT seed, count(*) AS n_2hop FROM h2 GROUP BY 1)
      |SELECT c1.seed, c1.n_1hop,
      |  coalesce(c2.n_2hop, CAST(0 AS BIGINT)) AS n_2hop
      |FROM c1 LEFT JOIN c2 ON c1.seed = c2.seed""".stripMargin
  ) { (s, d) =>
    val e = basketPairs(s, d).filter(col("n_orders") >= 2)
      .select(col("part_a").as("u"), col("part_b").as("v"))
    // both directions emit map-side (a union's two branches would
    // each replay the pair aggregation), and the adjacency is cached:
    // seeds, hop 1, and hop 2 all probe it
    val adj = e.select(explode(array(
        struct(col("u").as("a"), col("v").as("b")),
        struct(col("v").as("a"), col("u").as("b")))).as("x"))
      .select(col("x.a").as("a"), col("x.b").as("b"))
      .cache()
    val seeds = adj.select(col("a").as("seed")).distinct()
      .filter(col("seed") % 20 === 0)
    val h1 = seeds.join(adj, seeds("seed") === adj("a"))
      .select(col("seed"), col("b").as("n1")).distinct()
    val h2 = h1.join(adj, h1("n1") === adj("a"))
      .select(col("seed"), col("b").as("n2")).distinct()
      .filter(col("n2") =!= col("seed"))
      .join(h1.select(col("seed"), col("n1").as("n2")),
        Seq("seed", "n2"), "left_anti")
    val c1 = h1.groupBy(col("seed")).agg(count(lit(1)).as("n_1hop"))
    val c2 = h2.groupBy(col("seed")).agg(count(lit(1)).as("n_2hop"))
    c1.join(c2, Seq("seed"), "left")
      .select(col("seed"), col("n_1hop"),
        coalesce(col("n_2hop"), lit(0L)).as("n_2hop"))
  }

  /** Association rules (directed market-basket mining) over the
    * capped co-purchase baskets: for every supported pair, both
    * directed rules a→b with
    *   confidence = n_ab / n_a            (P(b | a))
    *   lift       = n_ab·N / (n_a·n_b)    (P(a,b) / P(a)P(b))
    * ranked by interestingness, top 100. The directed complement of
    * q102's symmetric cosine: confidence is the recommendation score
    * an "if-bought-X-suggest-Y" rule actually uses, and lift is the
    * independence test that kills popularity-bias rules cosine keeps.
    *
    * Float parity is exact: n_ab·N and n_a·n_b are int64 products of
    * basket counts (< 2⁵³ — lossless as doubles), so conf and lift
    * are each ONE IEEE division of exact integers — identical bits in
    * both engines, which makes even the float-ordered top-100 cut
    * deterministic (the (lift DESC, antecedent, consequent) key is a
    * total order over bit-identical values).
    *
    * Scale shape: pair stream ∝ rows (capped baskets, the q86
    * bound), direction doubling map-side via explode, per-item counts
    * attach by item-keyed joins (AQE broadcasts while they fit), and
    * the global top-100 is TakeOrderedAndProject — per-partition
    * heaps, never a full sort. N is a 1-row scalar crossJoin (J2). */
  val q108AssocRules: QueryDef = QueryDef.withOracle(
    """WITH bp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |ok AS (SELECT o FROM bp GROUP BY o HAVING count(*) BETWEEN 2 AND 1000),
      |qb AS (SELECT bp.o, bp.p FROM bp JOIN ok USING (o)),
      |nb AS (SELECT count(DISTINCT o) AS n_baskets FROM qb),
      |cnt AS (SELECT p, count(*) AS n FROM qb GROUP BY 1),
      |pairs AS (
      |  SELECT a.p AS pa, b.p AS pb, count(*) AS nab
      |  FROM qb a JOIN qb b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2),
      |e AS (SELECT pa, pb, nab FROM pairs WHERE nab >= 2),
      |dir AS (SELECT pa AS antecedent, pb AS consequent, nab FROM e
      |        UNION ALL SELECT pb, pa, nab FROM e),
      |rules AS (
      |  SELECT d.antecedent, d.consequent, d.nab AS n_ab,
      |    ca.n AS n_a, cb.n AS n_b,
      |    CAST(d.nab AS DOUBLE) / CAST(ca.n AS DOUBLE) AS conf,
      |    CAST(d.nab * nb.n_baskets AS DOUBLE)
      |      / CAST(ca.n * cb.n AS DOUBLE) AS lift
      |  FROM dir d JOIN cnt ca ON ca.p = d.antecedent
      |  JOIN cnt cb ON cb.p = d.consequent
      |  CROSS JOIN nb)
      |SELECT antecedent, consequent, n_ab, n_a, n_b, conf, lift
      |FROM rules
      |ORDER BY lift DESC, antecedent, consequent LIMIT 100""".stripMargin
  ) { (s, d) =>
    // ONE basket-grain exchange feeds the basket total, the per-item
    // counts AND the pair generator (r13 port — the old cnt/nBaskets
    // legs re-derived distinct rows + sizes + a join-back beside the
    // basketPairs call; guide §2.4)
    val baskets = cappedBaskets(Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
      group = "o", item = "p").cache()
    val nBaskets = baskets.agg(count(lit(1)).as("n_baskets"))
    val cnt = baskets.select(explode(col("is")).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("n"))
    val e = basketPairCounts(baskets)
      .select(col("item_a").as("part_a"), col("item_b").as("part_b"),
        col("n_groups").as("n_orders"))
      .filter(col("n_orders") >= 2)
    val dir = e.select(explode(array(
        struct(col("part_a").as("antecedent"), col("part_b").as("consequent"),
          col("n_orders").as("n_ab")),
        struct(col("part_b").as("antecedent"), col("part_a").as("consequent"),
          col("n_orders").as("n_ab")))).as("x"))
      .select(col("x.antecedent").as("antecedent"),
        col("x.consequent").as("consequent"), col("x.n_ab").as("n_ab"))
    dir
      .join(cnt.select(col("p").as("antecedent"), col("n").as("n_a")),
        "antecedent")
      .join(cnt.select(col("p").as("consequent"), col("n").as("n_b")),
        "consequent")
      .crossJoin(broadcast(nBaskets))
      .select(col("antecedent"), col("consequent"), col("n_ab"), col("n_a"),
        col("n_b"),
        (col("n_ab").cast("double") / col("n_a").cast("double")).as("conf"),
        ((col("n_ab") * col("n_baskets")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift"))
      .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
      .limit(100)
  }

  /** Item-item cosine similarity (co-occurrence collaborative
    * filtering): sim(i,j) = n_ij / √(n_i · n_j) over qualifying
    * baskets, top-3 neighbors per item — the "customers also bought"
    * operator, and the k-NN graph builder for item embeddings that
    * don't exist yet. n_i counts the SAME capped baskets the pair
    * counts come from (a raw-frequency denominator would skew sim on
    * any basket the cap or min-size filter dropped). Float parity is
    * exact: n_ij, n_i·n_j are int64s (< 2⁵³, so the double cast is
    * lossless), and √ and ÷ are each correctly-rounded IEEE ops —
    * identical bits in both engines. Top-3 is rank over (sim DESC,
    * neighbor) — a total order, so rank ≤ 3 is deterministic and
    * Spark runs it as a WindowGroupLimit partial+final (the q25
    * shape, never a full per-item sort materialization). The n_i
    * attach join is node-cardinality-sized: AQE broadcasts it at
    * bench SF and degenerates to shuffle at web scale (the
    * triangleCensus deg-join rule — no forced broadcast). */
  val q102ItemSim: QueryDef = QueryDef.withOracle(
    """WITH bp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |ok AS (SELECT o FROM bp GROUP BY o HAVING count(*) BETWEEN 2 AND 1000),
      |qb AS (SELECT bp.o, bp.p FROM bp JOIN ok USING (o)),
      |cnt AS (SELECT p, count(*) AS n FROM qb GROUP BY 1),
      |pairs AS (
      |  SELECT a.p AS pa, b.p AS pb, count(*) AS nab
      |  FROM qb a JOIN qb b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2),
      |e AS (SELECT pa, pb, nab FROM pairs WHERE nab >= 2),
      |dir AS (SELECT pa AS item, pb AS nbr, nab FROM e
      |        UNION ALL SELECT pb, pa, nab FROM e),
      |sim AS (
      |  SELECT d.item, d.nbr, d.nab,
      |    CAST(d.nab AS DOUBLE) / sqrt(CAST(ca.n * cb.n AS DOUBLE)) AS sim
      |  FROM dir d JOIN cnt ca ON ca.p = d.item JOIN cnt cb ON cb.p = d.nbr),
      |r AS (SELECT *, rank() OVER
      |        (PARTITION BY item ORDER BY sim DESC, nbr) AS rnk
      |      FROM sim)
      |SELECT item, nbr, nab, sim, CAST(rnk AS BIGINT) AS rnk
      |FROM r WHERE rnk <= 3""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // ONE basket-grain exchange feeds both the per-item counts and
    // the pair generator (r13: the cnt leg used to re-derive distinct
    // rows + sizes + a join-back — three more data-sized exchanges
    // and a second lineitem scan for the same numbers)
    val baskets = cappedBaskets(Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
      group = "o", item = "p").cache()
    val cnt = baskets.select(explode(col("is")).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("n"))
    val e = basketPairCounts(baskets)
      .select(col("item_a").as("part_a"), col("item_b").as("part_b"),
        col("n_groups").as("n_orders"))
      .filter(col("n_orders") >= 2)
    // both directions emit map-side — a union's branches would each
    // replay the pair aggregation (the q101 fix)
    val dir = e.select(explode(array(
        struct(col("part_a").as("item"), col("part_b").as("nbr"),
          col("n_orders").as("nab")),
        struct(col("part_b").as("item"), col("part_a").as("nbr"),
          col("n_orders").as("nab")))).as("x"))
      .select(col("x.item").as("item"), col("x.nbr").as("nbr"),
        col("x.nab").as("nab"))
    val sim = dir
      .join(cnt.select(col("p").as("item"), col("n").as("na")), "item")
      .join(cnt.select(col("p").as("nbr"), col("n").as("nb")), "nbr")
      .select(col("item"), col("nbr"), col("nab"),
        (col("nab").cast("double") /
          sqrt((col("na") * col("nb")).cast("double"))).as("sim"))
    val w = Window.partitionBy(col("item"))
      .orderBy(col("sim").desc, col("nbr"))
    sim.withColumn("rnk", rank().over(w).cast("long"))
      .filter(col("rnk") <= 3)
  }

  /** Item-based collaborative-filtering recommendations — the second
    * hop over q102's item-item k-NN graph: each customer's owned
    * items pull in their top-3 similar neighbors, neighbor scores sum
    * per (customer, candidate), owned items are anti-joined out, and
    * the top-3 fresh candidates per customer ship — "customers also
    * bought", end to end.
    *
    * Scale shape: the expensive part (the k-NN graph) is q102's
    * capped-basket pair stream, built once; the second hop is a
    * fan-out-3 equi-join on item (the graph is items×3 rows — small
    * relative to ownership, AQE broadcasts it at bench SF), one
    * (cust, candidate)-keyed aggregate, an anti-join back on the
    * ownership key, and a WindowGroupLimit top-3. Nothing touches a
    * pair space wider than ownership × 3. Score parity is the q55
    * convention: each sim is exact IEEE (int64 / √int64), quantized
    * to 1e-6 units BEFORE the sum, so the ranking key is an exact
    * int64 — no order-dependent float aggregate. */
  val q126Recommend: QueryDef = QueryDef.withOracle(
    """WITH bp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |ok AS (SELECT o FROM bp GROUP BY o HAVING count(*) BETWEEN 2 AND 1000),
      |qb AS (SELECT bp.o, bp.p FROM bp JOIN ok USING (o)),
      |cnt AS (SELECT p, count(*) AS n FROM qb GROUP BY 1),
      |pairs AS (
      |  SELECT a.p AS pa, b.p AS pb, count(*) AS nab
      |  FROM qb a JOIN qb b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2),
      |e AS (SELECT pa, pb, nab FROM pairs WHERE nab >= 2),
      |dir AS (SELECT pa AS item, pb AS nbr, nab FROM e
      |        UNION ALL SELECT pb, pa, nab FROM e),
      |sim AS (
      |  SELECT d.item, d.nbr,
      |    CAST(d.nab AS DOUBLE) / sqrt(CAST(ca.n * cb.n AS DOUBLE)) AS sim
      |  FROM dir d JOIN cnt ca ON ca.p = d.item JOIN cnt cb ON cb.p = d.nbr),
      |nbrs AS (
      |  SELECT item, nbr, sim FROM (
      |    SELECT *, rank() OVER
      |      (PARTITION BY item ORDER BY sim DESC, nbr) AS rnk
      |    FROM sim)
      |  WHERE rnk <= 3),
      |owned AS (
      |  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS item
      |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
      |sc AS (
      |  SELECT w.cust, n.nbr, count(*) AS n_src,
      |    sum(CAST(floor(n.sim * 1000000 + 0.5) AS BIGINT)) AS score_fp
      |  FROM owned w JOIN nbrs n ON n.item = w.item
      |  GROUP BY 1, 2),
      |fresh AS (
      |  SELECT sc.* FROM sc
      |  LEFT JOIN owned w2 ON w2.cust = sc.cust AND w2.item = sc.nbr
      |  WHERE w2.item IS NULL)
      |SELECT cust, CAST(rnk AS BIGINT) AS rank, nbr AS rec_item, n_src,
      |  CAST(score_fp AS DOUBLE) / 1000000 AS score
      |FROM (
      |  SELECT *, row_number() OVER
      |    (PARTITION BY cust ORDER BY score_fp DESC, nbr) AS rnk
      |  FROM fresh)
      |WHERE rnk <= 3""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val owned = Tables.orders(s, d)
      .select(col("o_orderkey").as("o"), col("o_custkey").as("cust"))
      .join(Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("item")),
        Seq("o"))
      .select(col("cust"), col("item")).distinct()
      // consumed twice (fan-out source + anti-join filter): one
      // materialization, not two order⋈lineitem replays
      .cache()
    val nbrs = q102ItemSim.fn(s, d)
      .select(col("item"), col("nbr"),
        floor(col("sim") * 1000000 + 0.5).cast("long").as("s_fp"))
    val sc = owned.join(nbrs, Seq("item"))
      .groupBy(col("cust"), col("nbr"))
      .agg(count(lit(1)).as("n_src"), sum(col("s_fp")).as("score_fp"))
    val fresh = sc.join(
      owned.select(col("cust"), col("item").as("nbr")),
      Seq("cust", "nbr"), "left_anti")
    val w = Window.partitionBy(col("cust"))
      .orderBy(col("score_fp").desc, col("nbr"))
    fresh.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("cust"), col("rank"), col("nbr").as("rec_item"),
        col("n_src"), (col("score_fp").cast("double") / 1000000).as("score"))
  }

  /** Degree distribution of the co-purchase graph — the first chart
    * any graph analysis draws (is this power-law? where does the hub
    * tail start?). Degree = distinct co-purchase partners per part
    * over the capped-basket pair stream (q86/q102's generator);
    * the histogram log₂-bins via INTEGER bit length (`bin(deg)`
    * string length — both engines format int64 binary identically,
    * so no libm log2 boundary risk at exact powers of two).
    *
    * Scale shape: the pair stream is basket-capped (∝ rows); degree
    * is count(DISTINCT partner) per part — Spark plans the distinct
    * aggregate as a map-side partial dedup feeding ONE part-keyed
    * exchange (a global pairs.distinct() first would pay a second,
    * (p,q)-keyed shuffle of the whole stream for nothing); the
    * histogram domain is ≤64 buckets. */
  val q148DegreeDist: QueryDef = QueryDef.withOracle(
    """WITH bp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |ok AS (SELECT o FROM bp GROUP BY o HAVING count(*) BETWEEN 2 AND 1000),
      |qb AS (SELECT bp.o, bp.p FROM bp JOIN ok USING (o)),
      |nbr AS (
      |  SELECT DISTINCT a.p AS p, b.p AS q
      |  FROM qb a JOIN qb b ON a.o = b.o AND a.p <> b.p),
      |deg AS (SELECT p, count(*) AS degree FROM nbr GROUP BY 1)
      |SELECT CAST(length(bin(degree)) - 1 AS BIGINT) AS log2_bucket,
      |  count(*) AS n_parts,
      |  CAST(min(degree) AS BIGINT) AS min_degree,
      |  CAST(max(degree) AS BIGINT) AS max_degree
      |FROM deg GROUP BY 1""".stripMargin
  ) { (s, d) =>
    // the directed partner stream is generated map-side off the
    // basket arrays (r13 port; guide §2.4): the old distinct → sizes
    // → join-back → self-join chain paid four data-sized exchanges
    // before the distinct-partner aggregate ever ran
    directedPartners(cappedBaskets(Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
      group = "o", item = "p"))
      .groupBy(col("p")).agg(countDistinct(col("q")).as("degree"))
      .groupBy((length(bin(col("degree"))) - 1).cast("long")
        .as("log2_bucket"))
      .agg(count(lit(1)).as("n_parts"),
        min(col("degree")).as("min_degree"),
        max(col("degree")).as("max_degree"))
  }

  /** Sketch-based degree distribution — q148's documented escape
    * hatch made real: the same capped-basket pair stream, but the
    * per-item distinct-neighbor count comes from the q154 HyperLogLog
    * register aggregate (p = 8 → 256 B of state per item) instead of
    * exact countDistinct. q148's exact answer must shuffle each item's
    * partially-deduped neighbor ids (state ∝ true degree — its 9.1×
    * sf1→sf10 step IS that floor); here the exchange carries a
    * constant 256 bytes per (item, partition) no matter how hot the
    * item, which is the trade a 100 TB degree census actually takes
    * (a log2 histogram does not need exact degrees).
    *
    * Estimator parity: identical to q154 (dyadic S is exact in any
    * sum order; linear-counting ln rounded at 1e-6), with S computed
    * WITHOUT densifying: S = Σ_{hit buckets} 2^−reg + (m − #hit)·1,
    * since untouched registers contribute 2⁰ — the oracle uses the
    * same identity, so no 256×items expansion anywhere. Estimated
    * degree rounds half-up to int64 before the log2 bucketing (q148's
    * bin() recipe). */
  val q160DegreeSketch: QueryDef = QueryDef.withOracle(
    """WITH bp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |ok AS (SELECT o FROM bp GROUP BY o HAVING count(*) BETWEEN 2 AND 1000),
      |qb AS (SELECT bp.o, bp.p FROM bp JOIN ok USING (o)),
      |nbr AS (
      |  SELECT DISTINCT a.p AS p, b.p AS q
      |  FROM qb a JOIN qb b ON a.o = b.o AND a.p <> b.p),
      |h AS (
      |  SELECT p,
      |    ('0x' || substring(md5(CAST(q AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM nbr),
      |r AS (
      |  SELECT p, h >> 52 AS bucket,
      |    max(CASE WHEN (h & ((1::BIGINT << 40) - 1)) = 0 THEN 41
      |      ELSE 40 - CAST(floor(log2(h & ((1::BIGINT << 40) - 1)))
      |        AS BIGINT) END) AS reg
      |  FROM h GROUP BY 1, 2),
      |a AS (
      |  SELECT p,
      |    sum(pow(CAST(2 AS DOUBLE), -reg)) + (256 - count(*)) AS s_inv,
      |    CAST(256 - count(*) AS BIGINT) AS v_zero
      |  FROM r GROUP BY 1),
      |e AS (
      |  SELECT p, v_zero,
      |    ((CAST(0.7213 AS DOUBLE) * 65536) /
      |     (CAST(1 AS DOUBLE) + (CAST(1.079 AS DOUBLE) / CAST(256 AS DOUBLE))))
      |      / s_inv AS e_raw
      |  FROM a),
      |f AS (
      |  SELECT p,
      |    CAST(floor(floor((CASE WHEN e_raw <= 640 AND v_zero > 0
      |      THEN CAST(256 AS DOUBLE) * ln(CAST(256 AS DOUBLE) / v_zero)
      |      ELSE e_raw END) * 1000000 + 0.5) / 1000000 + 0.5) AS BIGINT)
      |      AS deg_est
      |  FROM e)
      |SELECT CAST(length(bin(deg_est)) - 1 AS BIGINT) AS log2_bucket,
      |  count(*) AS n_parts,
      |  CAST(min(deg_est) AS BIGINT) AS min_deg_est,
      |  CAST(max(deg_est) AS BIGINT) AS max_deg_est
      |FROM f GROUP BY 1""".stripMargin
  ) { (s, d) =>
    // same map-side partner stream as q148 (r13 port): HLL register
    // state is a pure max over the partners' hash values, so the
    // per-basket emission order / multiplicity change cannot perturb
    // a single register bit
    val regs = directedPartners(cappedBaskets(Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
        group = "o", item = "p"))
      .groupBy(col("p"))
      .agg(graft.functions.SketchAggregates
        .hllRegisters(col("q").cast("string"), 8).as("regs"))
    regs.select(col("p"),
        expr("aggregate(regs, CAST(0 AS DOUBLE), " +
          "(acc, r) -> acc + pow(CAST(2 AS DOUBLE), -r))").as("s_inv"),
        expr("CAST(size(filter(regs, r -> r = 0)) AS BIGINT)").as("v_zero"))
      // the ONE shared estimator (Kernels.hllEstimate) at the
      // p = 8 register count, rounded to an integer degree
      .withColumn("deg_est",
        floor(Kernels.hllEstimate(col("s_inv"), col("v_zero"), 256)
          + 0.5).cast("long"))
      .groupBy((length(bin(col("deg_est"))) - 1).cast("long")
        .as("log2_bucket"))
      .agg(count(lit(1)).as("n_parts"),
        min(col("deg_est")).as("min_deg_est"),
        max(col("deg_est")).as("max_deg_est"))
  }

  /** Temporal-holdout evaluation of the item-CF recommender — the
    * metric layer that decides whether q126's recommendations are any
    * good: neighbor lists train ONLY on pre-2000 baskets (q102's
    * exact recipe — cap, support ≥ 2, cosine, top-3) and are scored
    * on post-2000 baskets by leave-one-item-out hit rate: for each
    * (test basket, item), a hit means some OTHER item of that basket
    * appears in the item's trained neighbor list. Reports both the
    * overall rate (cold-start items count as misses — the honest
    * number) and the warm rate over items that have neighbors.
    *
    * Scale shape: the train side is q102's capped pair stream on a
    * filtered basket set; the eval side is two equi-joins on item
    * keys (candidates, then the same-basket containment check as a
    * leftsemi) with DISTINCT collapses before counting; the report
    * row is five broadcast scalars. The date split carries through
    * ONE cached (order, part, is_train) frame, so orders⋈lineitem
    * replays once, not per branch. */
  val q182RecoHoldout: QueryDef = QueryDef.withOracle(
    """WITH bp AS (
      |  SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p,
      |    o2.o_orderdate < TIMESTAMP '2000-01-01' AS is_train
      |  FROM lineitem l JOIN orders o2 ON o2.o_orderkey = l.l_orderkey),
      |tr AS (SELECT o, p FROM bp WHERE is_train),
      |ok AS (SELECT o FROM tr GROUP BY o HAVING count(*) BETWEEN 2 AND 1000),
      |qb AS (SELECT tr.o, tr.p FROM tr JOIN ok USING (o)),
      |cnt AS (SELECT p, count(*) AS n FROM qb GROUP BY 1),
      |pairs AS (
      |  SELECT a.p AS pa, b.p AS pb, count(*) AS nab
      |  FROM qb a JOIN qb b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2),
      |e AS (SELECT pa, pb, nab FROM pairs WHERE nab >= 2),
      |dir AS (SELECT pa AS item, pb AS nbr, nab FROM e
      |        UNION ALL SELECT pb, pa, nab FROM e),
      |sim AS (
      |  SELECT d.item, d.nbr,
      |    CAST(d.nab AS DOUBLE) / sqrt(CAST(ca.n * cb.n AS DOUBLE)) AS sim
      |  FROM dir d JOIN cnt ca ON ca.p = d.item JOIN cnt cb ON cb.p = d.nbr),
      |nbrs AS (
      |  SELECT item, nbr FROM (
      |    SELECT *, rank() OVER
      |      (PARTITION BY item ORDER BY sim DESC, nbr) AS rnk
      |    FROM sim) WHERE rnk <= 3),
      |te AS (SELECT o, p FROM bp WHERE NOT is_train),
      |tok AS (SELECT o FROM te GROUP BY o HAVING count(*) >= 2),
      |ti AS (SELECT te.o, te.p FROM te JOIN tok USING (o)),
      |cand AS (
      |  SELECT DISTINCT ti.o, ti.p, n.nbr
      |  FROM ti JOIN nbrs n ON n.item = ti.p),
      |warm AS (SELECT DISTINCT o, p FROM cand),
      |hit AS (
      |  SELECT DISTINCT c.o, c.p FROM cand c
      |  JOIN ti j ON j.o = c.o AND j.p = c.nbr)
      |SELECT
      |  (SELECT count(*) FROM tok) AS n_test_baskets,
      |  (SELECT count(*) FROM ti) AS n_items,
      |  (SELECT count(*) FROM warm) AS n_items_warm,
      |  (SELECT count(*) FROM hit) AS n_hits,
      |  floor((CAST((SELECT count(*) FROM hit) AS DOUBLE)
      |    / (SELECT count(*) FROM ti)) * 1000000 + 0.5) / 1000000
      |    AS hitrate,
      |  CASE WHEN (SELECT count(*) FROM warm) = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST((SELECT count(*) FROM hit) AS DOUBLE)
      |      / (SELECT count(*) FROM warm)) * 1000000 + 0.5) / 1000000
      |    END AS hitrate_warm""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val Cut = 946684800000000L // 2000-01-01 00:00 UTC epoch-µs
    // ONE basket-grain exchange (collect_set dedups map-side) serves
    // train and test branches (r13 port; guide §2.4): the old shape
    // cached distinct (o, p, is_train) ROWS and still paid per branch
    // a size aggregate + a join-back + (train) the base self-join —
    // four more data-sized exchanges for the same pair stream
    val ob = Tables.orders(s, d)
      .select(col("o_orderkey").as("o"),
        (unix_micros(col("o_orderdate")) < Cut).as("is_train"))
      .join(Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
        Seq("o"))
      .groupBy(col("o"), col("is_train"))
      .agg(sort_array(collect_set(col("p"))).as("is"))
      .cache()
    val trb = ob.filter(col("is_train") &&
      size(col("is")).between(2, DefaultMaxBasket))
    val cnt = trb.select(explode(col("is")).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("n"))
    val e = basketPairCounts(trb)
      .toDF("pa", "pb", "nab")
      .filter(col("nab") >= 2)
    val dir = e.select(explode(array(
        struct(col("pa").as("item"), col("pb").as("nbr"), col("nab")),
        struct(col("pb").as("item"), col("pa").as("nbr"), col("nab"))))
        .as("x"))
      .select(col("x.item").as("item"), col("x.nbr").as("nbr"),
        col("x.nab").as("nab"))
    val sim = dir
      .join(cnt.select(col("p").as("item"), col("n").as("na")), "item")
      .join(cnt.select(col("p").as("nbr"), col("n").as("nb")), "nbr")
      .select(col("item"), col("nbr"), (col("nab").cast("double") /
        sqrt((col("na") * col("nb")).cast("double"))).as("sim"))
    val nbrs = sim.withColumn("rnk", rank().over(
        Window.partitionBy(col("item"))
          .orderBy(col("sim").desc, col("nbr"))))
      .filter(col("rnk") <= 3).select(col("item"), col("nbr"))
    val teb = ob.filter(!col("is_train") && size(col("is")) >= 2)
    val ti = teb.select(col("o"), explode(col("is")).as("p"))
      .cache() // consumed 3×: cand, hit, count
    val cand = ti.join(nbrs, col("p") === col("item"))
      .select(col("o"), col("p"), col("nbr")).distinct()
    val warm = cand.select(col("o"), col("p")).distinct()
    val hit = cand
      .join(ti.select(col("o"), col("p").as("nbr")), Seq("o", "nbr"),
        "leftsemi")
      .select(col("o"), col("p")).distinct()
    val nb = teb.agg(count(lit(1)).as("n_test_baskets"))
    val ni = ti.agg(count(lit(1)).as("n_items"))
    val nw = warm.agg(count(lit(1)).as("n_items_warm"))
    val nh = hit.agg(count(lit(1)).as("n_hits"))
    nb.crossJoin(broadcast(ni)).crossJoin(broadcast(nw))
      .crossJoin(broadcast(nh))
      .select(col("n_test_baskets"), col("n_items"), col("n_items_warm"),
        col("n_hits"),
        (floor((col("n_hits").cast("double") / col("n_items")) * 1000000
          + 0.5) / 1000000).as("hitrate"),
        when(col("n_items_warm") === 0, lit(0.0))
          .otherwise(floor((col("n_hits").cast("double") /
            col("n_items_warm")) * 1000000 + 0.5) / 1000000)
          .as("hitrate_warm"))
  }

  /** Scale-safe twin of q182 (the q160-vs-q148 move applied to the
    * metric layer): the SAME leave-one-item-out temporal holdout,
    * estimated from DETERMINISTIC 25% basket samples on BOTH sides
    * (the 60-bit md5 basket hash mod 4 — reproducible on any engine,
    * no RNG; train and test orders are disjoint, so one recipe serves
    * both). Train-side sampling is what kills the sf100 wall: the
    * pair stream and its distinct-pair agg state scale LINEARLY in
    * the sampled basket count (each basket contributes its own
    * pairs), so mod-4 cuts both 4× — the full pair stream never
    * materializes, and the knob turns to any scale. Neighbor lists
    * become estimates off the basket sample (pair counts AND cosine
    * denominators from the same sample — a consistent estimator,
    * standard offline-eval practice); eval-side sampling is free
    * accuracy-wise by exchangeability. A measured dead end recorded
    * here: restricting the pair stream to eval-needed items BEFORE
    * the agg (leftsemi into the generation) only removes ~17% at
    * TPC-H part uniformity (the 25% basket sample still touches 83%
    * of items) while doubling the stream by forcing the directed
    * form — sampling baskets, not restricting items, is the lever
    * that scales. The item restriction is applied AFTER the pair agg
    * instead, where it prunes the rank/join work for lists nothing
    * will score, at zero stream cost. One estimator caveat, stated
    * rather than hidden: the support ≥ 2 floor prunes pairs
    * SUPERLINEARLY under sampling (a pair co-occurring twice in full
    * data survives a 25% basket sample with probability ~1/16), so
    * the warm-item set shrinks faster than 4× and hit rates compare
    * within a sampling regime, not across regimes — the standard
    * sampled offline-eval caveat.
    *
    * Scale shape: q182's exact plan on a 4×-smaller deterministic
    * subset — undirected pa<pb pair agg, mirror, cosine, top-3 rank,
    * then item-keyed equi-joins + DISTINCT collapses + five broadcast
    * scalars. */
  val q193RecoHoldoutSampled: QueryDef = QueryDef.withOracle(
    """WITH bp AS (
      |  SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p,
      |    o2.o_orderdate < TIMESTAMP '2000-01-01' AS is_train
      |  FROM lineitem l JOIN orders o2 ON o2.o_orderkey = l.l_orderkey),
      |tr AS (SELECT o, p FROM bp WHERE is_train),
      |ok AS (SELECT o FROM tr GROUP BY o HAVING count(*) BETWEEN 2 AND 1000),
      |sok AS (
      |  SELECT o FROM ok
      |  WHERE ('0x' || substring(md5(CAST(o AS VARCHAR)), 1, 15))::BIGINT
      |    % 4 = 0),
      |qb AS (SELECT tr.o, tr.p FROM tr JOIN sok USING (o)),
      |cnt AS (SELECT p, count(*) AS n FROM qb GROUP BY 1),
      |te AS (SELECT o, p FROM bp WHERE NOT is_train),
      |tok AS (SELECT o FROM te GROUP BY o HAVING count(*) >= 2),
      |sk AS (
      |  SELECT o FROM tok
      |  WHERE ('0x' || substring(md5(CAST(o AS VARCHAR)), 1, 15))::BIGINT
      |    % 4 = 0),
      |ti AS (SELECT te.o, te.p FROM te JOIN sk USING (o)),
      |ev AS (SELECT DISTINCT p FROM ti),
      |pairs AS (
      |  SELECT a.p AS pa, b.p AS pb, count(*) AS nab
      |  FROM qb a JOIN qb b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2),
      |e AS (SELECT pa, pb, nab FROM pairs WHERE nab >= 2),
      |dir AS (SELECT pa AS item, pb AS nbr, nab FROM e
      |        UNION ALL SELECT pb, pa, nab FROM e),
      |dev AS (SELECT d.* FROM dir d JOIN ev ON ev.p = d.item),
      |sim AS (
      |  SELECT d.item, d.nbr,
      |    CAST(d.nab AS DOUBLE) / sqrt(CAST(ca.n * cb.n AS DOUBLE)) AS sim
      |  FROM dev d JOIN cnt ca ON ca.p = d.item
      |  JOIN cnt cb ON cb.p = d.nbr),
      |nbrs AS (
      |  SELECT item, nbr FROM (
      |    SELECT *, rank() OVER
      |      (PARTITION BY item ORDER BY sim DESC, nbr) AS rnk
      |    FROM sim) WHERE rnk <= 3),
      |cand AS (
      |  SELECT DISTINCT ti.o, ti.p, n.nbr
      |  FROM ti JOIN nbrs n ON n.item = ti.p),
      |warm AS (SELECT DISTINCT o, p FROM cand),
      |hit AS (
      |  SELECT DISTINCT c.o, c.p FROM cand c
      |  JOIN ti j ON j.o = c.o AND j.p = c.nbr)
      |SELECT
      |  (SELECT count(*) FROM sk) AS n_test_baskets,
      |  (SELECT count(*) FROM ti) AS n_items,
      |  (SELECT count(*) FROM warm) AS n_items_warm,
      |  (SELECT count(*) FROM hit) AS n_hits,
      |  CASE WHEN (SELECT count(*) FROM ti) = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST((SELECT count(*) FROM hit) AS DOUBLE)
      |      / (SELECT count(*) FROM ti)) * 1000000 + 0.5) / 1000000
      |    END AS hitrate,
      |  CASE WHEN (SELECT count(*) FROM warm) = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST((SELECT count(*) FROM hit) AS DOUBLE)
      |      / (SELECT count(*) FROM warm)) * 1000000 + 0.5) / 1000000
      |    END AS hitrate_warm""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val Cut = 946684800000000L // 2000-01-01 00:00 UTC epoch-µs
    // deterministic 25% basket samples: the shared 60-bit md5 recipe,
    // non-negative, so % == pmod and both engines pick the SAME
    // baskets; train/test orders are disjoint, one recipe serves both
    def sampled(o: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      conv(substring(md5(o.cast("string")), 1, 15), 16, 10)
        .cast("long") % 4 === 0
    // the sample is a pure per-order predicate, so it commutes with
    // every downstream per-order filter — applying it BEFORE the
    // basket exchange (r13 move; guide §2.3) cuts the one data-sized
    // shuffle 4× instead of sampling the already-shuffled stream; the
    // basket-grain restructure itself is q182's (one collect_set
    // exchange serves both branches, pairs generate map-side)
    val ob = Tables.orders(s, d)
      .select(col("o_orderkey").as("o"),
        (unix_micros(col("o_orderdate")) < Cut).as("is_train"))
      .join(Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
        Seq("o"))
      .filter(sampled(col("o")))
      .groupBy(col("o"), col("is_train"))
      .agg(sort_array(collect_set(col("p"))).as("is"))
      .cache()
    val trb = ob.filter(col("is_train") &&
      size(col("is")).between(2, DefaultMaxBasket))
    val cnt = trb.select(explode(col("is")).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("n"))
    val teb = ob.filter(!col("is_train") && size(col("is")) >= 2)
    val ti = teb.select(col("o"), explode(col("is")).as("p"))
      .cache() // consumed 3×: cand, hit, count
    val ev = ti.select(col("p")).distinct()
    // q182's exact pair recipe on the sampled baskets (undirected
    // pa<pb agg, mirror after); the eval-item restriction lands
    // POST-agg, pruning rank/join work for lists nothing will score
    // at zero stream cost (pre-agg it was measured useless: ~17%
    // selectivity at a doubled directed stream — see scaladoc)
    val e = basketPairCounts(trb)
      .toDF("pa", "pb", "nab")
      .filter(col("nab") >= 2)
    val dir = e.select(explode(array(
        struct(col("pa").as("item"), col("pb").as("nbr"), col("nab")),
        struct(col("pb").as("item"), col("pa").as("nbr"), col("nab"))))
        .as("x"))
      .select(col("x.item").as("item"), col("x.nbr").as("nbr"),
        col("x.nab").as("nab"))
      .join(ev.select(col("p").as("item")), Seq("item"), "leftsemi")
    val sim = dir
      .join(cnt.select(col("p").as("item"), col("n").as("na")), "item")
      .join(cnt.select(col("p").as("nbr"), col("n").as("nb")), "nbr")
      .select(col("item"), col("nbr"), (col("nab").cast("double") /
        sqrt((col("na") * col("nb")).cast("double"))).as("sim"))
    val nbrs = sim.withColumn("rnk", rank().over(
        Window.partitionBy(col("item"))
          .orderBy(col("sim").desc, col("nbr"))))
      .filter(col("rnk") <= 3).select(col("item"), col("nbr"))
    val cand = ti.join(nbrs, col("p") === col("item"))
      .select(col("o"), col("p"), col("nbr")).distinct()
    val warm = cand.select(col("o"), col("p")).distinct()
    val hit = cand
      .join(ti.select(col("o"), col("p").as("nbr")), Seq("o", "nbr"),
        "leftsemi")
      .select(col("o"), col("p")).distinct()
    val nb = teb.agg(count(lit(1)).as("n_test_baskets"))
    val ni = ti.agg(count(lit(1)).as("n_items"))
    val nw = warm.agg(count(lit(1)).as("n_items_warm"))
    val nh = hit.agg(count(lit(1)).as("n_hits"))
    nb.crossJoin(broadcast(ni)).crossJoin(broadcast(nw))
      .crossJoin(broadcast(nh))
      .select(col("n_test_baskets"), col("n_items"), col("n_items_warm"),
        col("n_hits"),
        when(col("n_items") === 0, lit(0.0))
          .otherwise(floor((col("n_hits").cast("double") / col("n_items"))
            * 1000000 + 0.5) / 1000000).as("hitrate"),
        when(col("n_items_warm") === 0, lit(0.0))
          .otherwise(floor((col("n_hits").cast("double") /
            col("n_items_warm")) * 1000000 + 0.5) / 1000000)
          .as("hitrate_warm"))
  }

  /** Scale-safe twin of q126 — the q193 move applied to the SERVING
    * layer, which closes the last documented sf100 DNF with an
    * implemented escape hatch (q148→q160 was state, q182→q193 was the
    * metric, q126→this is the output): item neighbor lists are built
    * from a DETERMINISTIC 25% train-basket sample (pair stream and
    * distinct-pair agg state ∝ sample — the q193 knob), and
    * recommendations are emitted for a deterministic 1/16 customer
    * cohort (output AND the ownership fan-out join ∝ cohort — in
    * production this is exactly "recompute recs for tonight's
    * cohort"). Both knobs are md5-mod hashes, reproducible on any
    * engine; scoring semantics per customer are q126's bit for bit
    * (1e-6 fixed-point score sum, owned-item anti-join, top-3).
    *
    * Scale shape: q126's plan with both data-sized legs scaled by
    * the knobs — sampled pair agg, cohort-filtered ownership before
    * the fan-out join, per-cust rank window over the cohort only. */
  val q198RecommendSampled: QueryDef = QueryDef.withOracle(
    """WITH bp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |ok0 AS (SELECT o FROM bp GROUP BY o HAVING count(*) BETWEEN 2 AND 1000),
      |ok AS (
      |  SELECT o FROM ok0
      |  WHERE ('0x' || substring(md5(CAST(o AS VARCHAR)), 1, 15))::BIGINT
      |    % 4 = 0),
      |qb AS (SELECT bp.o, bp.p FROM bp JOIN ok USING (o)),
      |cnt AS (SELECT p, count(*) AS n FROM qb GROUP BY 1),
      |pairs AS (
      |  SELECT a.p AS pa, b.p AS pb, count(*) AS nab
      |  FROM qb a JOIN qb b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2),
      |e AS (SELECT pa, pb, nab FROM pairs WHERE nab >= 2),
      |dir AS (SELECT pa AS item, pb AS nbr, nab FROM e
      |        UNION ALL SELECT pb, pa, nab FROM e),
      |sim AS (
      |  SELECT d.item, d.nbr,
      |    CAST(d.nab AS DOUBLE) / sqrt(CAST(ca.n * cb.n AS DOUBLE)) AS sim
      |  FROM dir d JOIN cnt ca ON ca.p = d.item JOIN cnt cb ON cb.p = d.nbr),
      |nbrs AS (
      |  SELECT item, nbr, sim FROM (
      |    SELECT *, rank() OVER
      |      (PARTITION BY item ORDER BY sim DESC, nbr) AS rnk
      |    FROM sim)
      |  WHERE rnk <= 3),
      |owned AS (
      |  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS item
      |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |  WHERE ('0x' || substring(md5(CAST(o.o_custkey AS VARCHAR)), 1, 15))
      |    ::BIGINT % 16 = 0),
      |sc AS (
      |  SELECT w.cust, n.nbr, count(*) AS n_src,
      |    sum(CAST(floor(n.sim * 1000000 + 0.5) AS BIGINT)) AS score_fp
      |  FROM owned w JOIN nbrs n ON n.item = w.item
      |  GROUP BY 1, 2),
      |fresh AS (
      |  SELECT sc.* FROM sc
      |  LEFT JOIN owned w2 ON w2.cust = sc.cust AND w2.item = sc.nbr
      |  WHERE w2.item IS NULL)
      |SELECT cust, CAST(rnk AS BIGINT) AS rank, nbr AS rec_item, n_src,
      |  CAST(score_fp AS DOUBLE) / 1000000 AS score
      |FROM (
      |  SELECT *, row_number() OVER
      |    (PARTITION BY cust ORDER BY score_fp DESC, nbr) AS rnk
      |  FROM fresh)
      |WHERE rnk <= 3""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    def sampledMod(c: org.apache.spark.sql.Column, m: Int)
        : org.apache.spark.sql.Column =
      conv(substring(md5(c.cast("string")), 1, 15), 16, 10)
        .cast("long") % m === 0
    // q193's basket-grain shape with the sample filter pushed to the
    // source (r13 port; guide §2.3/§2.4): one 4×-reduced collect_set
    // exchange feeds the per-item counts and the map-side pair
    // generator — no distinct / sizes / join-back / self-join chain
    val baskets = cappedBaskets(Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .filter(sampledMod(col("o"), 4)),
      group = "o", item = "p").cache()
    val cnt = baskets.select(explode(col("is")).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("n"))
    val e = basketPairCounts(baskets)
      .toDF("pa", "pb", "nab")
      .filter(col("nab") >= 2)
    val dir = e.select(explode(array(
        struct(col("pa").as("item"), col("pb").as("nbr"), col("nab")),
        struct(col("pb").as("item"), col("pa").as("nbr"), col("nab"))))
        .as("x"))
      .select(col("x.item").as("item"), col("x.nbr").as("nbr"),
        col("x.nab").as("nab"))
    val sim = dir
      .join(cnt.select(col("p").as("item"), col("n").as("na")), "item")
      .join(cnt.select(col("p").as("nbr"), col("n").as("nb")), "nbr")
      .select(col("item"), col("nbr"), (col("nab").cast("double") /
        sqrt((col("na") * col("nb")).cast("double"))).as("sim"))
    val nbrs = sim.withColumn("rnk", rank().over(
        Window.partitionBy(col("item"))
          .orderBy(col("sim").desc, col("nbr"))))
      .filter(col("rnk") <= 3)
      .select(col("item"), col("nbr"),
        floor(col("sim") * 1000000 + 0.5).cast("long").as("s_fp"))
    // cohort filter lands BEFORE the ownership distinct: the fan-out
    // join, the anti-join, and the rank window all see 1/16 of custs
    val owned = Tables.orders(s, d)
      .filter(sampledMod(col("o_custkey"), 16))
      .select(col("o_orderkey").as("o"), col("o_custkey").as("cust"))
      .join(Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("item")),
        Seq("o"))
      .select(col("cust"), col("item")).distinct()
      .cache() // fan-out source + anti-join filter: one materialization
    val sc = owned.join(nbrs, Seq("item"))
      .groupBy(col("cust"), col("nbr"))
      .agg(count(lit(1)).as("n_src"), sum(col("s_fp")).as("score_fp"))
    val fresh = sc.join(
      owned.select(col("cust"), col("item").as("nbr")),
      Seq("cust", "nbr"), "left_anti")
    val w = Window.partitionBy(col("cust"))
      .orderBy(col("score_fp").desc, col("nbr"))
    fresh.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("cust"), col("rank"), col("nbr").as("rec_item"),
        col("n_src"), (col("score_fp").cast("double") / 1000000).as("score"))
  }

  /** Local clustering coefficient distribution over the co-purchase
    * graph — q85 counts the GLOBAL triangle/wedge census; this says
    * how closure is DISTRIBUTED: per node, c = 2·t/(d(d−1)) (what
    * fraction of the node's neighbor pairs are themselves connected),
    * rolled into 10 coefficient bins with per-bin mean. The audit that
    * separates a clique-y graph from a star-y one at the same global
    * transitivity — input for choosing between q102's item-item
    * scoring and q126's neighborhood serving.
    *
    * Same degree-ordered orientation as q85 (each triangle discovered
    * once at its lowest-(degree, id) corner), then the corner frame
    * explodes ×3 into a per-node count. Bin ids are PURE integer:
    * floor(10c) = (20t) div (d(d−1)); the per-node coefficient
    * quantizes to 1e-9 (exact-integer division both sides) and per-bin
    * sums ride decimal(38,0)/HUGEINT.
    *
    * Scale shape: q85's posture — edges and oriented adjacency cached
    * once, wedge join keyed on the corner node, degree-ordering bounds
    * the per-corner fan-out by the graph's arboricity; the rollup is a
    * 10-cell frame. Nodes with d < 2 (coefficient undefined) are
    * excluded, not zero-filled. */
  val q227LocalClustering: QueryDef = QueryDef.withOracle(
    """WITH bp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |ok AS (SELECT o FROM bp GROUP BY o HAVING count(*) BETWEEN 2 AND 1000),
      |pc AS (
      |  SELECT a.p AS u, b.p AS v, count(*) AS n
      |  FROM bp a JOIN bp b ON a.o = b.o AND a.p < b.p
      |  JOIN ok ON a.o = ok.o
      |  GROUP BY 1, 2),
      |e AS (SELECT u, v FROM pc WHERE n >= 2),
      |deg AS (SELECT node, count(*) AS d FROM
      |  (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
      |  GROUP BY 1),
      |tric AS (
      |  SELECT e1.u AS a, e1.v AS b, e2.v AS c3
      |  FROM e e1 JOIN e e2 ON e1.v = e2.u
      |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      |pt AS (
      |  SELECT node, count(*) AS t
      |  FROM (SELECT unnest([a, b, c3]) AS node FROM tric) GROUP BY 1),
      |nodes AS (
      |  SELECT deg.node, deg.d, coalesce(pt.t, 0) AS t
      |  FROM deg LEFT JOIN pt USING (node) WHERE deg.d >= 2)
      |SELECT least(9, (20 * t) // (d * (d - 1))) AS bin,
      |  count(*) AS n_nodes,
      |  (CAST(sum(CAST(floor(CAST(2 * t AS DOUBLE) / (d * (d - 1))
      |    * 1000000000 + 0.5) AS HUGEINT)) AS DOUBLE) / count(*))
      |    / 1000000000 AS mean_coef
      |FROM nodes GROUP BY 1""".stripMargin
  ) { (s, d) =>
    val e = basketPairs(s, d).filter(col("n_orders") >= 2)
      .select(col("part_a").as("u"), col("part_b").as("v"))
      .cache() // feeds degrees AND the orientation join (q85 convention)
    val deg = e.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
      .cache()
    val keyed = e
      .join(deg.select(col("node").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("d").as("dv")), "v")
    def k(dc: String, nc: String) = struct(col(dc).as("d"), col(nc).as("n"))
    val lower = k("du", "u") < k("dv", "v")
    val oriented = keyed.select(
      when(lower, col("u")).otherwise(col("v")).as("src"),
      when(lower, col("v")).otherwise(col("u")).as("dst"),
      when(lower, k("dv", "v")).otherwise(k("du", "u")).as("kd"))
      .cache() // both wedge sides + the closure probe
    val wedgeAB = oriented
      .select(col("src"), col("dst").as("a"), col("kd").as("ka"))
      .join(oriented.select(col("src"), col("dst").as("b"),
        col("kd").as("kb")), Seq("src"))
      .filter(col("ka") < col("kb"))
    val tric = wedgeAB
      .join(oriented.select(col("src").as("a"), col("dst").as("b")),
        Seq("a", "b"))
      .select(col("src"), col("a"), col("b"))
    val pt = tric
      .select(explode(array(col("src"), col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("t"))
    val nodes = deg.filter(col("d") >= 2)
      .join(pt, Seq("node"), "left")
      .na.fill(0L, Seq("t"))
    nodes
      .groupBy(least(lit(9L), expr("(20 * t) div (d * (d - 1))")).as("bin"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(floor((lit(2) * col("t")).cast("double")
          / (col("d") * (col("d") - 1)) * 1000000000L + 0.5)
          .cast("long").cast("decimal(38,0)")).as("sfp"))
      .select(col("bin"), col("n_nodes"),
        ((col("sfp").cast("double") / col("n_nodes")) / 1000000000L)
          .as("mean_coef"))
  }

  /** HITS hubs-and-authorities over the supplier→customer bipartite
    * digraph — the second staple iterative graph score beside q75's
    * PageRank: PageRank ranks by global random-surfer mass, HITS
    * separates "good providers" (hubs: suppliers serving
    * high-authority customers) from "good consumers" (authorities:
    * customers served by high-hub suppliers) — the two-sided
    * influence view a marketplace health report wants.
    *
    * Determinism (the q75 contract): scores are int64 micro-units;
    * one half-step is raw(v) = Σ neighbour scores followed by
    * MAX-normalization score'(v) = raw·10⁶ div max(raw) — every step
    * integer math (the product lifts to decimal(38,0)/HUGEINT before
    * the div: raw reaches deg·10⁶ ≈ 10¹⁵ at web-scale degree, and
    * ×10⁶ would cross int64), so partial-merge order can't perturb a
    * bit and the same recurrence unrolls as plain SQL. Two full
    * h→a→h iterations (fixed count, like q75's 3).
    *
    * Scale shape per half-step: one join keyed by the edge's source
    * side against the ≤|nodes| score frame (AQE broadcasts while it
    * fits) + one aggregate keyed by the other side; the max is a
    * scalar broadcast. Unlike q75 (3 reuses, where re-deriving beat
    * checkpointing), the 2-iteration HITS plan reuses the edge list
    * SEVEN times (both final frames chain through every half-step),
    * so the distinct pair frame is cached — one lineitem⋈orders
    * derivation instead of seven; at real scale this is the edge-list
    * materialization every iterative graph engine starts with. */
  val q208Hits: QueryDef = QueryDef.withOracle(
    """WITH pair AS (
      |  SELECT DISTINCT l_suppkey AS s, o_custkey AS c
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |a1r AS (
      |  SELECT c, CAST(count(*) AS HUGEINT) * 1000000 AS r
      |  FROM pair GROUP BY c),
      |a1 AS (
      |  SELECT c, CAST(r * 1000000 // (SELECT max(r) FROM a1r)
      |    AS BIGINT) AS a FROM a1r),
      |h1r AS (
      |  SELECT pair.s, CAST(sum(a1.a) AS HUGEINT) AS r
      |  FROM pair JOIN a1 USING (c) GROUP BY pair.s),
      |h1 AS (
      |  SELECT s, CAST(r * 1000000 // (SELECT max(r) FROM h1r)
      |    AS BIGINT) AS h FROM h1r),
      |a2r AS (
      |  SELECT pair.c, CAST(sum(h1.h) AS HUGEINT) AS r
      |  FROM pair JOIN h1 USING (s) GROUP BY pair.c),
      |a2 AS (
      |  SELECT c, CAST(r * 1000000 // (SELECT max(r) FROM a2r)
      |    AS BIGINT) AS a FROM a2r),
      |h2r AS (
      |  SELECT pair.s, CAST(sum(a2.a) AS HUGEINT) AS r
      |  FROM pair JOIN a2 USING (c) GROUP BY pair.s),
      |h2 AS (
      |  SELECT s, CAST(r * 1000000 // (SELECT max(r) FROM h2r)
      |    AS BIGINT) AS h FROM h2r)
      |SELECT 'hub' AS role, s AS node, h AS score_micro FROM h2
      |UNION ALL
      |SELECT 'authority' AS role, c AS node, a AS score_micro FROM a2"""
      .stripMargin
  ) { (s, d) =>
    val pair = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("s"), col("o_custkey").as("c"))
      .distinct()
    hits(pair, iterations = 2)
  }

  /** q208's integer HITS over an (s, c) bipartite edge list: `iterations`
    * full h→a→h rounds after the uniform-hub start (so iteration 1's
    * first half-step is a(c) ∝ in-degree). Returns the final hub and
    * authority frames unioned with a role column. */
  private[operators] def hits(pairIn: DataFrame, iterations: Int): DataFrame = {
    val pair = pairIn.cache() // reused by every half-step (see above)
    def normalize(rawIn: DataFrame, key: String, out: String): DataFrame = {
      // the raw score frame is referenced TWICE (max probe + the
      // normalizing join) and every later half-step chains through
      // it — uncached, each reference re-embeds the entire prior
      // chain (2^depth recompute; the q75 lineage lesson). Caching
      // the ≤|nodes| state per half-step keeps the plan linear.
      val raw = rawIn.cache()
      val mx = raw.agg(max(col("r")).as("mx"))
      raw.crossJoin(broadcast(mx))
        .select(col(key),
          expr("CAST((CAST(r AS DECIMAL(38,0)) * 1000000) div mx AS BIGINT)")
            .as(out))
    }
    var h = pair.select(col("s")).distinct()
      .withColumn("h", lit(1000000L))
    var a: DataFrame = null
    for (_ <- 1 to iterations) {
      a = normalize(
        pair.join(h, Seq("s"))
          .groupBy(col("c")).agg(sum(col("h")).as("r")), "c", "a")
      h = normalize(
        pair.join(a, Seq("c"))
          .groupBy(col("s")).agg(sum(col("a")).as("r")), "s", "h")
    }
    h.select(lit("hub").as("role"), col("s").as("node"),
      col("h").as("score_micro"))
      .unionByName(a.select(lit("authority").as("role"),
        col("c").as("node"), col("a").as("score_micro")))
  }

  /** Degree assortativity of the supplier↔customer graph (q75's edge
    * set): the Pearson correlation of end degrees over the directed
    * edge list — positive means hubs wire to hubs, negative means
    * hub-and-spoke. q148's degree histogram says WHAT degrees exist;
    * this says how they MIX, which decides whether q73-style salting
    * or q180's skew audit will find one mega-join or many (the
    * networkx degree-Pearson convention, both orientations counted).
    *
    * Exactness: degrees are exact counts; the five moment sums over
    * edges accumulate in decimal (Σd² reaches E·d_max² ≈ 1e30 on a
    * hub-heavy fleet graph); r is one double chain floored 1e-6; a
    * degree-regular graph (zero variance) degrades to 0 (stated).
    *
    * Scale shape: one edge build (the q75 join) → degree rollup →
    * two node-keyed equi-joins attach end degrees → one 5-number
    * aggregate. By symmetry of the bidirectional list the two margin
    * moments coincide — computed once. */
  val q269Assortativity: QueryDef = QueryDef.withOracle(
    """WITH pair AS (
      |  SELECT DISTINCT l_suppkey * 2 AS s, o_custkey * 2 + 1 AS c
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |e AS (
      |  SELECT s AS src, c AS dst FROM pair
      |  UNION
      |  SELECT c AS src, s AS dst FROM pair),
      |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
      |        FROM e GROUP BY 1),
      |ed AS (
      |  SELECT ds.d AS x, dd.d AS y
      |  FROM e JOIN deg ds ON ds.node = e.src
      |  JOIN deg dd ON dd.node = e.dst),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS ne,
      |    sum(CAST(x AS HUGEINT)) AS sx,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy
      |  FROM ed),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
      |SELECT n_nodes, ne // 2 AS n_edges,
      |  CASE WHEN CAST(ne AS HUGEINT) * sxx - sx * sx = 0
      |    THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(CAST(ne AS HUGEINT) * sxy - sx * sx
      |        AS DOUBLE)
      |      / CAST(CAST(ne AS HUGEINT) * sxx - sx * sx AS DOUBLE))
      |      * 1000000 + 0.5) / 1000000 END AS assortativity
      |FROM m CROSS JOIN nn""".stripMargin
  ) { (s, d) =>
    val pair = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") * 2).as("s"),
        (col("o_custkey") * 2 + 1).as("c"))
      .distinct()
    // both directions emit map-side off the DISTINCT (s, c) frame:
    // supplier and customer ids live in disjoint namespaces (2k vs
    // 2k+1), so the mirrored stream is distinct by construction and
    // the old union + second global distinct exchange bought nothing
    // (r13 port; guide §2.4)
    val e = pair.select(explode(array(
        struct(col("s").as("src"), col("c").as("dst")),
        struct(col("c").as("src"), col("s").as("dst")))).as("x"))
      .select(col("x.src").as("src"), col("x.dst").as("dst"))
      .cache() // edge list feeds the degree rollup and both attaches
    val deg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("long").as("d"))
    val ed = e.join(deg.toDF("src", "x"), Seq("src"))
      .join(deg.toDF("dst", "y"), Seq("dst"))
      .select(col("x"), col("y"))
    val m = ed.agg(count(lit(1)).as("ne"),
      sum(dec(col("x"))).as("sx"),
      sum(dec(col("x")) * col("x")).as("sxx"),
      sum(dec(col("x")) * col("y")).as("sxy"))
    val nn = deg.agg(count(lit(1)).as("n_nodes"))
    val varX = dec(col("ne")) * col("sxx") - col("sx") * col("sx")
    m.crossJoin(broadcast(nn))
      .select(col("n_nodes"), (col("ne") / 2).cast("long").as("n_edges"),
        when(varX === dec(lit(0)), lit(0.0))
          .otherwise(floor(((dec(col("ne")) * col("sxy")
            - col("sx") * col("sx")).cast("double")
            / varX.cast("double")) * 1000000L + 0.5) / 1000000L)
          .as("assortativity"))
  }

  /** Rich-club coefficient of the co-purchase graph at degree
    * thresholds k in {1,2,4,8,16,32} — phi(k) = 2*E_k / (N_k(N_k-1))
    * where N_k counts nodes of degree > k and E_k edges with BOTH
    * endpoints of degree > k (Zhou & Mondragon 2004). A rising phi(k)
    * says hubs preferentially interlink — the "popular parts all
    * co-sell with each other" structure that q148's degree histogram
    * (no linking info) and q227's local clustering (per-node, not
    * stratified by degree) both miss; in curation terms it is the
    * spam-ring / coordinated-boilerplate shape at the source-graph
    * level.
    *
    * Exactness: pure integer counting — degrees, threshold rollups,
    * and edge-minimum-degree cells are exact; one double phi per
    * threshold row, quantized 1e-6. Thresholds with N_k < 2 are
    * dropped (phi undefined; stated).
    *
    * Scale shape: the q227 edge list (distinct bipartite projection,
    * fan-out capped 2..1000, pair support >= 2 — the pair join is the
    * documented q86-class candidate generator); degrees are one agg
    * over edges; E_k needs NO per-k edge pass — edges collapse to
    * min-degree cells (<= |distinct degrees| rows) and each of the 6
    * thresholds sums cells above it, same for N_k over the degree
    * histogram. Everything after the edge list is metadata-sized cell
    * algebra. */
  val q280RichClub: QueryDef = QueryDef.withOracle(
    """WITH bp AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |ok AS (SELECT o FROM bp GROUP BY o
      |  HAVING count(*) BETWEEN 2 AND 1000),
      |qb AS (SELECT bp.o, bp.p FROM bp JOIN ok USING (o)),
      |pc AS (
      |  SELECT a.p AS u, b.p AS v, count(*) AS n
      |  FROM qb a JOIN qb b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2),
      |e AS (SELECT u, v FROM pc WHERE n >= 2),
      |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM
      |  (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
      |  GROUP BY 1),
      |em AS (
      |  SELECT least(du.d, dv.d) AS m, count(*) AS cnt
      |  FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
      |  GROUP BY 1),
      |dn AS (SELECT d, count(*) AS cnt FROM deg GROUP BY 1),
      |ks AS (SELECT unnest([1, 2, 4, 8, 16, 32]) AS k),
      |nk AS (
      |  SELECT ks.k, CAST(sum(CASE WHEN dn.d > ks.k THEN dn.cnt ELSE 0
      |    END) AS BIGINT) AS n_nodes
      |  FROM ks CROSS JOIN dn GROUP BY 1),
      |ek AS (
      |  SELECT ks.k, CAST(sum(CASE WHEN em.m > ks.k THEN em.cnt ELSE 0
      |    END) AS BIGINT) AS n_edges
      |  FROM ks CROSS JOIN em GROUP BY 1)
      |SELECT CAST(nk.k AS BIGINT) AS k, nk.n_nodes,
      |  coalesce(ek.n_edges, 0) AS n_edges,
      |  floor(2.0 * coalesce(ek.n_edges, 0)
      |    / (CAST(nk.n_nodes AS DOUBLE) * (nk.n_nodes - 1))
      |    * 1000000 + 0.5) / 1000000 AS phi
      |FROM nk LEFT JOIN ek ON ek.k = nk.k
      |WHERE nk.n_nodes >= 2""".stripMargin
  ) { (s, d) =>
    // the edge list IS q86's capped map-side pair generator (r13
    // port; guide §2.4) — the old inline distinct / sizes / join-back
    // / self-join chain re-paid four data-sized exchanges for it
    val e = GraphOps.basketPairs(s, d).filter(col("n_orders") >= 2)
      .select(col("part_a").as("u"), col("part_b").as("v"))
      .cache() // edge list reused by the degree agg and the em cells
    val deg = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val du = deg.toDF("u", "du")
    val dv = deg.toDF("v", "dv")
    val em = e.join(du, Seq("u")).join(dv, Seq("v"))
      .groupBy(least(col("du"), col("dv")).as("m"))
      .agg(count(lit(1)).as("cnt"))
    val dn = deg.groupBy(col("d")).agg(count(lit(1)).as("cnt"))
    val ks = s.createDataFrame(Seq(Tuple1(1L), Tuple1(2L), Tuple1(4L),
      Tuple1(8L), Tuple1(16L), Tuple1(32L))).toDF("k")
    val nk = broadcast(ks).crossJoin(dn)
      .groupBy(col("k"))
      .agg(sum(when(col("d") > col("k"), col("cnt")).otherwise(0L))
        .cast("long").as("n_nodes"))
    val ek = broadcast(ks).crossJoin(em)
      .groupBy(col("k"))
      .agg(sum(when(col("m") > col("k"), col("cnt")).otherwise(0L))
        .cast("long").as("n_edges"))
    nk.join(ek.withColumnRenamed("k", "k2"), col("k2") === col("k"),
        "left")
      .filter(col("n_nodes") >= 2)
      .select(col("k"), col("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        q6(lit(2.0) * coalesce(col("n_edges"), lit(0L))
          / (col("n_nodes").cast("double") * (col("n_nodes") - 1)))
          .as("phi"))
  }

  val all: Map[String, QueryDef] = Map(
    "q148_degree_dist" -> q148DegreeDist,
    "q198_recommend_sampled" -> q198RecommendSampled,
    "q160_degree_sketch" -> q160DegreeSketch,
    "q75_pagerank" -> q75Pagerank,
    "q126_recommend" -> q126Recommend,
    "q182_reco_holdout" -> q182RecoHoldout,
    "q193_reco_holdout_sampled" -> q193RecoHoldoutSampled,
    "q85_triangles" -> q85Triangles,
    "q227_local_clustering" -> q227LocalClustering,
    "q86_copurchase" -> q86Copurchase,
    "q101_khop" -> q101Khop,
    "q102_item_sim" -> q102ItemSim,
    "q108_assoc_rules" -> q108AssocRules,
    "q208_hits" -> q208Hits,
    "q269_assortativity" -> q269Assortativity,
    "q280_rich_club" -> q280RichClub)
}
