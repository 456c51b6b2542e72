package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.ml.Recommender

/** Recommendation queries over the testdata star schema: orders are
  * baskets, parts are items.
  */
object RecommenderQueries {

  /** q36 — item-item co-occurrence ("bought together"): top-3 co-items
    * for a bounded item slice, deterministic tie-break. The basket
    * self-join shuffles on the basket key with distinct pre-reduction;
    * quadratic blowup is bounded by the COST-BASED basket cap derived
    * from the q37 size histogram (r2 verdict Next-round #7 — no more
    * Int.MaxValue bypass): under the default pair budget the TPC-H
    * histogram (baskets ≤ 7 items) keeps every basket, so the oracle
    * stays exact, while the same call bounds the join at 100 TB. */
  val q36 = QueryDef(
    "q36_co_occurrence",
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
      |co AS (
      |  SELECT x.i AS item, y.i AS co_item, COUNT(*) AS n_baskets
      |  FROM items x JOIN items y ON x.b = y.b AND x.i <> y.i
      |  GROUP BY x.i, y.i),
      |r AS (
      |  SELECT item, co_item, n_baskets,
      |    ROW_NUMBER() OVER (PARTITION BY item
      |      ORDER BY n_baskets DESC, co_item) AS rnk
      |  FROM co)
      |SELECT item, rnk, co_item, n_baskets
      |FROM r WHERE rnk <= 3 AND item < 50
      |ORDER BY item, rnk""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
    val co = Recommender.coOccurrenceAuto(
      li, "l_orderkey", "l_partkey")
    Recommender.topCoItems(co, 3)
      .filter(col("item") < 50)
      .select(col("item"), col("rnk"), col("co_item"), col("n_baskets"))
      .orderBy("item", "rnk")
  }

  /** q37 — basket-size distribution (the co-occurrence cost model:
    * this histogram is exactly what sizes `maxBasket` at scale). */
  val q37 = QueryDef(
    "q37_basket_sizes",
    """WITH b AS (
      |  SELECT l_orderkey, COUNT(DISTINCT l_partkey) AS n_items
      |  FROM lineitem GROUP BY l_orderkey)
      |SELECT n_items, COUNT(*) AS n_orders
      |FROM b GROUP BY n_items
      |ORDER BY n_items""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(countDistinct(col("l_partkey")).as("n_items"))
      .groupBy(col("n_items"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("n_items")
  }

  /** q45 — implicit-feedback ALS top-5 recommendations for a bounded
    * customer slice (the reference's collaborative-filtering surface,
    * `project_structure.txt` recommendation-engine plan). Trains on
    * order lines as implicit signals (customer × part, weight =
    * line count). Rows-only check: ALS factorization isn't
    * SQL-reproducible; the fixed seed pins it within Spark. */
  val q45 = QueryDef.noOracle("q45_als_recommendations") { (s, d) =>
    val interactions = Tables.lineitem(s, d)
      .join(Tables.orders(s, d),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").cast("int").as("user"),
        col("l_partkey").cast("int").as("item"))
    // Persist the ratings: ALS's blocked solver reads its input once
    // per block construction, but the UPSTREAM join+groupBy would
    // otherwise replay for the user-subset frame below too.
    val ratings = Recommender.implicitRatings(
      interactions, "user", "item", lit(1.0)).persist()
    val model = Recommender.als(ratings)
    // Score ONLY the queried slice (recommendForUserSubset), not all
    // users — the all-users variant is a |U|×|I| blocked scoring pass
    // that this 50-user lookup has no business paying (it was 32% of
    // the whole r3 bench).
    val users = ratings.select(col("user")).filter(col("user") < 50)
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user"))
      .orderBy(col("score").desc, col("item"))
    // No unpersist here: the returned frame still reads `ratings`
    // (users subset) lazily; the harness clears the cache between
    // queries (Bench/Verify clearCache contract).
    Recommender.recommendationsFor(model, users, 5)
      .withColumn("rnk", row_number().over(w))
      .select(col("user"), col("rnk"), col("item"),
        round(col("score"), 4).as("score"))
      .orderBy("user", "rnk")
  }

  /** Deterministic "trained" factor column: component f of the rank-8
    * factor vector for `id` is `(id·a + f·b) mod m − ⌊m/2⌋` as a
    * double — small signed integers, so every dot product below is an
    * exact integer-valued double on both engines (the q84/q117 fixture
    * treatment: derive the fixture IN the query, reproducibly, from
    * the shared tables). */
  private val RANK = 8
  private def factorArr(id: org.apache.spark.sql.Column,
                        a: Int, b: Int, m: Int) =
    transform(sequence(lit(0), lit(RANK - 1)),
      f => ((id * a + f * b) % m - lit(m / 2)).cast("double"))
  private def factorSql(id: String, a: Int, b: Int, m: Int) =
    s"list_transform(range($RANK), f -> " +
      s"CAST(($id * $a + f * $b) % $m - ${m / 2} AS DOUBLE))"

  /** q45b — the ALS *serving* path under a full oracle (q45 covers
    * training, which is iterative float and legitimately rows-only;
    * scoring is deterministic and checked here end-to-end). Small
    * user/item factor matrices are derived in-query from the order
    * data, then [[Recommender.serveTopK]] runs the real batch-inference
    * plan: broadcast user slice × item catalog, codegen dot-product
    * scores, already-purchased anti-join, per-user top-5. DuckDB
    * mirrors the factor construction and the sequential-fold dot
    * product exactly ([[graft.functions.Vectors.dotSql]] semantics).
    * Reference anchor: the recommendation-signal surface
    * (`ingestion/producer/producer.py:84-104`, `recommended_products`
    * in `ecommerce_producers.py:145`).
    * Scale: item side streams (no shuffle — user slice and its
    * purchase history broadcast); only the per-user top-k window
    * shuffles, keyed on the bounded slice. */
  val q45b = QueryDef(
    "q45b_als_serving",
    s"""WITH u AS (
      |  SELECT DISTINCT o_custkey AS usr FROM orders WHERE o_custkey < 50),
      |i AS (
      |  SELECT DISTINCT l_partkey AS item FROM lineitem
      |  WHERE l_partkey < 200),
      |uf AS (
      |  SELECT usr, ${factorSql("usr", 31, 17, 21)} AS fu FROM u),
      |itf AS (
      |  SELECT item, ${factorSql("item", 13, 7, 23)} AS fi FROM i),
      |seen AS (
      |  SELECT DISTINCT o_custkey AS usr, l_partkey AS item
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  WHERE o_custkey < 50 AND l_partkey < 200),
      |s AS (
      |  SELECT uf.usr, itf.item,
      |    CAST(list_reduce(list_transform(range($RANK),
      |      f -> fu[f+1] * fi[f+1]), (acc, x) -> acc + x) AS BIGINT)
      |      AS score
      |  FROM uf CROSS JOIN itf
      |  WHERE NOT EXISTS (SELECT 1 FROM seen
      |    WHERE seen.usr = uf.usr AND seen.item = itf.item)),
      |r AS (
      |  SELECT usr, item, score,
      |    ROW_NUMBER() OVER (PARTITION BY usr
      |      ORDER BY score DESC, item) AS rnk
      |  FROM s)
      |SELECT usr, rnk, item, score
      |FROM r WHERE rnk <= 5
      |ORDER BY usr, rnk""".stripMargin) { (s, d) =>
    val users = Tables.orders(s, d).filter(col("o_custkey") < 50)
      .select(col("o_custkey").as("usr")).distinct()
    val items = Tables.lineitem(s, d).filter(col("l_partkey") < 200)
      .select(col("l_partkey").as("item")).distinct()
    val uf = users.select(col("usr"),
      factorArr(col("usr"), 31, 17, 21).as("fu"))
    val itf = items.select(col("item"),
      factorArr(col("item"), 13, 7, 23).as("fi"))
    val seen = Tables.orders(s, d).filter(col("o_custkey") < 50)
      .join(Tables.lineitem(s, d).filter(col("l_partkey") < 200),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("usr"), col("l_partkey").as("item"))
      .distinct()
    Recommender.serveTopK(uf, itf, seen, 5)
      .orderBy("usr", "rnk")
  }

  /** q82 — PageRank over the co-purchase graph (2 fixed iterations,
    * damping 0.85): the iterative link-analysis layer above q36's
    * pairwise co-occurrence — a product's rank reflects its WHOLE
    * neighborhood's connectivity, not just direct co-buys (the
    * item-authority signal a recommender mixes in).
    * [[graft.functions.PageRank]] snaps each per-edge contribution to
    * integer pico-units before summing, so every iteration is
    * bit-identical to the oracle's mirrored CTE chain. Symmetrized
    * edge set ⇒ no dangling nodes by construction. */
  val q82 = QueryDef(
    "q82_pagerank",
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
      |e AS (
      |  SELECT DISTINCT x.i AS src, y.i AS dst
      |  FROM items x JOIN items y ON x.b = y.b AND x.i <> y.i),
      |n AS (SELECT COUNT(DISTINCT src) AS cnt FROM e),
      |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
      |r0 AS (SELECT src AS node, 1.0 / (SELECT cnt FROM n) AS r FROM deg),
      |c1 AS (
      |  SELECT e.dst AS node,
      |    SUM(CAST(FLOOR(r0.r / deg.d * 1e12 + 0.5) AS BIGINT)) AS s
      |  FROM e JOIN r0 ON e.src = r0.node JOIN deg ON deg.src = e.src
      |  GROUP BY e.dst),
      |r1 AS (
      |  SELECT r0.node,
      |    0.15 / (SELECT cnt FROM n) + 0.85 * (COALESCE(c1.s, 0) / 1e12)
      |      AS r
      |  FROM r0 LEFT JOIN c1 ON r0.node = c1.node),
      |c2 AS (
      |  SELECT e.dst AS node,
      |    SUM(CAST(FLOOR(r1.r / deg.d * 1e12 + 0.5) AS BIGINT)) AS s
      |  FROM e JOIN r1 ON e.src = r1.node JOIN deg ON deg.src = e.src
      |  GROUP BY e.dst),
      |r2 AS (
      |  SELECT r1.node,
      |    0.15 / (SELECT cnt FROM n) + 0.85 * (COALESCE(c2.s, 0) / 1e12)
      |      AS r
      |  FROM r1 LEFT JOIN c2 ON r1.node = c2.node)
      |SELECT node, CAST(FLOOR(r * 1e9 + 0.5) AS BIGINT) AS rank_nano
      |FROM r2 ORDER BY rank_nano DESC, node LIMIT 25""".stripMargin) {
    (s, d) =>
      // Fused partitioned edge build (round-12 phase 3): the (b, i)
      // distinct rides its byKey exchange (self-join on b then plans
      // exchange-free on both sides), and the pair distinct rides a
      // src-keyed byKey whose declared partitioning PageRank.run
      // detects — deg and both contribution joins run with no edge-
      // side exchange (before: 48 Exchanges / 12 SMJ, every one
      // re-shuffling |E| rows).
      import org.apache.spark.sql.graft.PartitionedCheckpoint
      val items = graft.functions.Checkpoints.pin(
        PartitionedCheckpoint.byKeyWith(Tables.lineitem(s, d)
            .select(col("l_orderkey").as("b"), col("l_partkey").as("i")),
          Seq("b"))(_.dropDuplicates()))
      val edges = graft.functions.Checkpoints.pin(
        PartitionedCheckpoint.byKeyWith(
          items.as("x").join(items.as("y"),
              col("x.b") === col("y.b") && col("x.i") =!= col("y.i"))
            .select(col("x.i").as("src"), col("y.i").as("dst")),
          Seq("src"))(_.dropDuplicates()))
      // teleport passed EXPLICITLY as the literal 0.15 the oracle SQL
      // uses: the default `1.0 - 0.85` is 0.15000000000000002 in IEEE
      // double — 2 ulps off — and the divergence can flip a floor-
      // snapped pico-unit contribution on an x.5 boundary as |E| grows
      graft.functions.PageRank.run(edges, "src", "dst", iterations = 2,
          damping = 0.85, teleport = 0.15)
        .select(col("node"),
          floor(col("r") * lit(1e9) + lit(0.5)).cast("long")
            .as("rank_nano"))
        .orderBy(col("rank_nano").desc, col("node"))
        .limit(25)
  }

  /** q189 — PERSONALIZED PageRank (Haveliwala 2002; the
    * related-items scorer a recommender runs from a context set —
    * "important as seen FROM these products", vs q82's global
    * importance): the teleport mass lands on the seed distribution
    * (every 20th part, uniform weights) and the walk starts there;
    * same basket co-occurrence graph, same pico-unit integer
    * contribution discipline, so DuckDB's unrolled two iterations
    * reproduce every rank bit-for-bit. Non-seed-reachable nodes decay
    * to zero — the personalization working as designed. Scale: adds
    * ONE broadcast left join per iteration to q82's shape. */
  val q189 = QueryDef(
    "q189_personalized_pagerank",
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
      |e AS (
      |  SELECT DISTINCT x.i AS src, y.i AS dst
      |  FROM items x JOIN items y ON x.b = y.b AND x.i <> y.i),
      |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
      |sn AS (SELECT COUNT(*) AS scnt FROM deg WHERE src % 20 = 0),
      |sw AS (
      |  SELECT src AS node, 1.0 / (SELECT scnt FROM sn) AS w
      |  FROM deg WHERE src % 20 = 0),
      |r0 AS (
      |  SELECT deg.src AS node, COALESCE(sw.w, 0.0) AS r
      |  FROM deg LEFT JOIN sw ON deg.src = sw.node),
      |c1 AS (
      |  SELECT e.dst AS node,
      |    SUM(CAST(FLOOR(r0.r / deg.d * 1e12 + 0.5) AS BIGINT)) AS s
      |  FROM e JOIN r0 ON e.src = r0.node JOIN deg ON deg.src = e.src
      |  GROUP BY e.dst),
      |r1 AS (
      |  SELECT r0.node,
      |    0.15 * COALESCE(sw.w, 0.0) + 0.85 * (COALESCE(c1.s, 0) / 1e12)
      |      AS r
      |  FROM r0 LEFT JOIN c1 ON r0.node = c1.node
      |    LEFT JOIN sw ON r0.node = sw.node),
      |c2 AS (
      |  SELECT e.dst AS node,
      |    SUM(CAST(FLOOR(r1.r / deg.d * 1e12 + 0.5) AS BIGINT)) AS s
      |  FROM e JOIN r1 ON e.src = r1.node JOIN deg ON deg.src = e.src
      |  GROUP BY e.dst),
      |r2 AS (
      |  SELECT r1.node,
      |    0.15 * COALESCE(sw.w, 0.0) + 0.85 * (COALESCE(c2.s, 0) / 1e12)
      |      AS r
      |  FROM r1 LEFT JOIN c2 ON r1.node = c2.node
      |    LEFT JOIN sw ON r1.node = sw.node)
      |SELECT node, CAST(FLOOR(r * 1e9 + 0.5) AS BIGINT) AS rank_nano
      |FROM r2 ORDER BY rank_nano DESC, node LIMIT 25""".stripMargin) {
    (s, d) =>
      // Fused partitioned edge build — the q82 shape (round-12
      // phase 3); the src-keyed pin serves the seed derivation
      // (srcs distinct + scnt, both exchange-free on src) AND
      // PageRank's detected pre-partitioned edge frame.
      import org.apache.spark.sql.graft.PartitionedCheckpoint
      val items = graft.functions.Checkpoints.pin(
        PartitionedCheckpoint.byKeyWith(Tables.lineitem(s, d)
            .select(col("l_orderkey").as("b"), col("l_partkey").as("i")),
          Seq("b"))(_.dropDuplicates()))
      val edges = graft.functions.Checkpoints.pin(
        PartitionedCheckpoint.byKeyWith(
          items.as("x").join(items.as("y"),
              col("x.b") === col("y.b") && col("x.i") =!= col("y.i"))
            .select(col("x.i").as("src"), col("y.i").as("dst")),
          Seq("src"))(_.dropDuplicates()))
      val srcs = edges.select(col("src")).distinct()
      val seedBase = srcs.filter(col("src") % 20 === 0)
      val scnt = seedBase.agg(count(lit(1)).as("scnt"))
      val seeds = seedBase.crossJoin(broadcast(scnt))
        .select(col("src").as("node"), (lit(1.0) / col("scnt")).as("w"))
      graft.functions.PageRank.run(edges, "src", "dst", iterations = 2,
          damping = 0.85, teleport = 0.15, seeds = Some(seeds))
        .select(col("node"),
          floor(col("r") * lit(1e9) + lit(0.5)).cast("long")
            .as("rank_nano"))
        .orderBy(col("rank_nano").desc, col("node"))
        .limit(25)
  }

  /** q161 — deterministic negative sampling (the missing ingredient
    * between q45's positive-pair training and a real implicit-
    * feedback trainer: every (user, item) batch needs k non-
    * interacted negatives per positive user): for the bounded user
    * slice (c_custkey < 10, the q32/q45b query-side contract), take
    * the full catalog minus the user's purchased set (broadcast
    * user-slice × catalog, then an anti-join on the interaction
    * pairs), and keep the k = 5 candidates with the SMALLEST
    * md5→u32 priority of "user:item" — the q139 hash-reservoir rule:
    * a uniform draw that is reproducible across runs, engines, and
    * partitionings, which is what makes training batches
    * regenerable instead of stored. State: k rows per user per
    * partition over the exchange ([[graft.functions.TopK]]); the
    * candidate volume is |slice| × |catalog|, bounded by the slice
    * contract. */
  val q161 = QueryDef(
    "q161_negative_sampling",
    s"""WITH purchased AS (
       |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |u AS (SELECT c_custkey AS c FROM customer WHERE c_custkey < 10),
       |cand AS (SELECT u.c, part.p_partkey AS p FROM u CROSS JOIN part),
       |neg AS (
       |  SELECT cand.c, cand.p FROM cand
       |  ANTI JOIN purchased USING (c, p)),
       |h AS (
       |  SELECT c, p,
       |    md5(CAST(c AS VARCHAR) || ':' || CAST(p AS VARCHAR)) AS hx
       |  FROM neg),
       |v AS (SELECT c, p, ${TextQueries.hexU32Sql(1)} AS pri FROM h),
       |r AS (
       |  SELECT c, p, pri,
       |    ROW_NUMBER() OVER (PARTITION BY c ORDER BY pri, p) AS rnk
       |  FROM v)
       |SELECT c AS c_custkey, rnk, p AS p_partkey, pri
       |FROM r WHERE rnk <= 5 ORDER BY c_custkey, rnk""".stripMargin) {
    (s, d) =>
    import graft.curation.Curation
    val purchased = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey").as("c"))
      .join(Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey").as("p")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("c"), col("p")).distinct()
    val u = Tables.customer(s, d).select(col("c_custkey").as("c"))
      .filter(col("c") < 10)
    val cand = broadcast(u)
      .crossJoin(Tables.part(s, d).select(col("p_partkey").as("p")))
    val neg = cand.join(purchased, Seq("c", "p"), "left_anti")
      .withColumn("pri",
        Curation.contentU32(concat_ws(":", col("c"), col("p"))))
    graft.functions.TopK
      .perGroup(neg, Seq(col("c")), col("pri"), col("p"), 5,
        largest = false)
      .select(col("c").as("c_custkey"), col("rnk"),
        col("id").as("p_partkey"), col("ord").as("pri"))
      .orderBy("c_custkey", "rnk")
  }

  /** q219 — item-based collaborative filtering (Sarwar et al. 2001):
    * top-3 neighbors per part by binary cosine similarity over the
    * CUSTOMER dimension — where q36's "bought together" ranks by raw
    * basket co-occurrence, this normalizes by both items' audience
    * sizes, the step that stops bestsellers from dominating every
    * neighbor list. Similarity is kept exact by ranking on cos² as
    * one integer ratio: sim²·10⁶ = (10⁶·c²) div (n_i·n_j), where c =
    * co-purchasing customers and n_i = item audiences — monotone in
    * cos for non-negative counts, so the TOP-3 is the true cosine
    * top-3 with (sim² desc, neighbor id) pinning ties.
    *
    * Scale: (customer, part) distinct projection; per-customer pair
    * expansion bounded by the COST-BASED breadth cap
    * ([[graft.ml.Recommender.maxBasketFromHistogram]] on the CUSTOMER
    * dimension — the q36/q223 basket-cap contract rotated onto the
    * user axis, which is where item-CF's quadratic blowup lives: one
    * power user with 10⁵ items emits 10¹⁰ pairs from a single key).
    * Under the default pair budget the test histograms fit entirely
    * (every customer kept), so the plan is LOSSLESS vs the UNCAPPED
    * oracle below — the q264 treatment: equality at the gate proves
    * the cap dropped nothing, while at 100 TB the same call bounds
    * the join to the budget. Pair census and audience census are
    * map-side-combinable keyed aggs; the per-item top-3 is a bounded
    * hash aggregate keyed by item ([[graft.functions.TopK]]: ≤ 3
    * fixed-width slots per item, no sort). */
  val q219 = QueryDef(
    "q219_item_cf",
    """WITH up AS (
      |  SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |ni AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n FROM up
      |  GROUP BY 1),
      |pp AS (
      |  SELECT a.i AS x, b.i AS y, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM up a JOIN up b ON a.u = b.u AND a.i < b.i
      |  GROUP BY 1, 2),
      |sym AS (
      |  SELECT x AS i, y AS j, c FROM pp
      |  UNION ALL SELECT y AS i, x AS j, c FROM pp),
      |sim AS (
      |  SELECT s.i, s.j, s.c,
      |    (1000000 * s.c * s.c) // (a.n * b.n) AS sim2_ppm
      |  FROM sym s JOIN ni a ON s.i = a.i JOIN ni b ON s.j = b.i),
      |rk AS (
      |  SELECT i, j, c, sim2_ppm, ROW_NUMBER() OVER (PARTITION BY i
      |    ORDER BY sim2_ppm DESC, j) AS rn
      |  FROM sim)
      |SELECT i AS item, CAST(rn AS BIGINT) AS rank, j AS neighbor,
      |  c AS common_users, sim2_ppm
      |FROM rk WHERE rn <= 3 ORDER BY item, rank""".stripMargin) {
    (s, d) =>
    val raw = Tables.lineitem(s, d)
      .join(Tables.orders(s, d),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("u"), col("l_partkey").as("i"))
    // One distinct (u, i) pin feeds both the cap and the pair
    // pipeline (without it each re-runs the lineitem⋈orders join +
    // distinct, ~2× the whole query at sf0.1). A checkpoint, not
    // cache(): checkpoint blocks are MEMORY_AND_DISK and spill under
    // heap pressure, where evicted cache blocks recomputed the
    // join+distinct mid-query. The distinct is fused into the u-keyed
    // exchange, so it runs partition-local. The breadth cap comes
    // from the per-customer size histogram the pin's own job returns
    // (see scaladoc): when it admits the largest breadth the filter
    // is a provable no-op and is elided; at scale it binds.
    val (up0, census) = Recommender.basketPin(raw, "u")
    val up = Recommender.capToBudget(up0, "u", census)
    val ni = up.groupBy(col("i")).agg(count(lit(1)).as("n"))
    val pp = up.as("a").join(up.as("b"),
        col("a.u") === col("b.u") && col("a.i") < col("b.i"))
      .groupBy(col("a.i").as("x"), col("b.i").as("y"))
      .agg(count(lit(1)).as("c"))
    // both orientations in ONE pass over the pair census (explode of
    // a 2-struct array) — the unionByName(swap) form evaluated the
    // 13M-row post-shuffle aggregation twice, once per branch, with
    // only the exchange reused (same rows, oracle unchanged).
    // Audience joins run on the HALF-SIZED x<y census and the explode
    // symmetrizes AFTERWARDS: the two ni joins each exchange |pp| rows
    // instead of 2·|pp|, and the only operator that ever sees the
    // doubled frame is the per-item top-3, a hash aggregate whose
    // partial phase keeps ≤ 3 rows per item per partition with no
    // sort (TopK).
    val sim = pp
      .join(ni.select(col("i").as("x"), col("n").as("nx")), Seq("x"))
      .join(ni.select(col("i").as("y"), col("n").as("ny")), Seq("y"))
      .select(explode(array(
        struct(col("x").as("i"), col("y").as("j"), col("c"),
          col("nx").as("na"), col("ny").as("nb")),
        struct(col("y").as("i"), col("x").as("j"), col("c"),
          col("ny").as("na"), col("nx").as("nb")))).as("s"))
      .select(col("s.i").as("i"), col("s.j").as("j"), col("s.c").as("c"),
        expr("(1000000 * s.c * s.c) div (s.na * s.nb)").as("sim2_ppm"))
    graft.functions.TopK.perGroup(sim, Seq(col("i")), col("sim2_ppm"),
        col("j"), 3, payload = Seq("c"))
      .select(col("i").as("item"), col("rnk").as("rank"),
        col("id").cast(sim.schema("j").dataType).as("neighbor"),
        col("c").as("common_users"),
        col("ord").cast(sim.schema("sim2_ppm").dataType).as("sim2_ppm"))
      .orderBy(col("item"), col("rank"))
  }

  /** q223 — association rules with confidence and lift (Agrawal &
    * Srikant's rule-mining form of q36's raw co-occurrence): a rule
    * A→B is reported with support (how often the pair occurs at all),
    * confidence (P(B|A) — how reliably A's baskets contain B), and
    * lift (confidence over B's base rate — the normalization that
    * separates "B is just popular" from "A actually predicts B", the
    * same bestseller correction q219 applies via cosine). All three
    * are exact integer ppm ratios over exact counts: conf = 10⁶·c
    * div n_A, lift = 10⁶·c·N div (n_A·n_B), support = 10⁶·c div N.
    * Support floor c ≥ 2 (a 1-basket pair has no statistical
    * content); top-100 by (lift desc, antecedent, consequent) — a
    * global TakeOrdered, never a partition-less window.
    *
    * Scale: rides [[graft.ml.Recommender.coOccurrence]]'s cost-based
    * basket cap (the q36/q37 contract — pair expansion bounded by the
    * size histogram); item counts are a keyed agg, and the basket
    * total N is a literal read from the items pin's key census (the
    * pin's own job counts the distinct non-null baskets, so there is
    * no one-row total frame to join). c·N·10⁶ ≤ 2⁶³ holds
    * through ~10⁹ baskets × 10³ pair support — the overflow margin at
    * 100 TB. */
  val q223 = QueryDef(
    "q223_association_rules",
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
      |nb AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n FROM items),
      |ni AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n FROM items
      |  GROUP BY 1),
      |co AS (
      |  SELECT x.i AS a, y.i AS c, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM items x JOIN items y ON x.b = y.b AND x.i <> y.i
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT co.a AS antecedent, co.c AS consequent, co.cnt AS n_both,
      |    (1000000 * co.cnt) // nb.n AS support_ppm,
      |    (1000000 * co.cnt) // na.n AS confidence_ppm,
      |    (1000000 * co.cnt * nb.n) // (na.n * nc.n) AS lift_ppm
      |  FROM co JOIN ni na ON co.a = na.i JOIN ni nc ON co.c = nc.i
      |  CROSS JOIN nb
      |  WHERE co.cnt >= 2)
      |SELECT antecedent, consequent, n_both, support_ppm,
      |  confidence_ppm, lift_ppm
      |FROM r ORDER BY lift_ppm DESC, antecedent, consequent
      |LIMIT 100""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
    // ONE pinned distinct serves ni AND the pair census, and its
    // materializing job returns the basket-size histogram: the cap
    // and the basket total N (non-null keys, COUNT(DISTINCT b)) come
    // from it with no job of their own. ni and N stay on the UNCAPPED
    // frame — only the pair expansion rides the cost cap.
    val (items, census) = Recommender.basketPin(li
      .select(col("l_orderkey").as("b"), col("l_partkey").as("i")), "b")
    val bounded = Recommender.capToBudget(items, "b", census)
    val nb = s"${census.nonNullKeys}L"
    val ni = items.groupBy(col("i")).agg(count(lit(1)).as("n"))
    val co = Recommender.pairCensus(bounded)
      .filter(col("n_baskets") >= 2)
      .select(col("item").as("a"), col("co_item").as("c"),
        col("n_baskets").as("n_both"))
    co.join(ni.select(col("i").as("a"), col("n").as("na")), Seq("a"))
      .join(ni.select(col("i").as("c"), col("n").as("nc")), Seq("c"))
      .select(col("a").as("antecedent"), col("c").as("consequent"),
        col("n_both"),
        expr(s"(1000000 * n_both) div $nb").as("support_ppm"),
        expr("(1000000 * n_both) div na").as("confidence_ppm"),
        expr(s"(1000000 * n_both * $nb) div (na * nc)").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("antecedent"),
        col("consequent"))
      .limit(100)
  }

  /** q224 — k-core peeling census of the SUPPORT co-purchase graph
    * ([[graft.functions.KCore]] — design, fixed-round contract, and
    * scale accounting there): the dense-backbone extraction over the
    * q223 support graph (edges = item pairs co-bought in ≥ 2 baskets;
    * the raw co-purchase graph is a near-regular blob where any k is
    * all-or-nothing — measured in the round-8 notes — while the
    * support graph peels like a real sparse graph: 11 rounds to
    * fixpoint at sf0.01). k = 3, 12 rounds; the census row pair
    * (11, 12) being equal IS the convergence evidence, in-band. */
  val q224 = QueryDef(
    "q224_kcore_census",
    s"""WITH items AS (
      |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
      |co AS (
      |  SELECT x.i AS src, y.i AS dst, COUNT(*) AS c
      |  FROM items x JOIN items y ON x.b = y.b AND x.i <> y.i
      |  GROUP BY 1, 2),
      |e0 AS (SELECT src, dst FROM co WHERE c >= 2),
      |${graft.functions.KCore.peelCensusSql(k = 3, rounds = 12)}"""
      .stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
    val support = Recommender.coOccurrenceAuto(
        li, "l_orderkey", "l_partkey")
      .filter(col("n_baskets") >= 2)
      .select(col("item").as("src"), col("co_item").as("dst"))
    graft.functions.KCore.peelCensus(support, "src", "dst",
      k = 3, rounds = 12)
  }

  /** q228 — multi-source BFS hop census ("how far does influence
    * reach"): exact h-hop neighborhood sizes for the 5 highest-degree
    * hubs of the q224 support graph, hops 0–4 — the neighborhood
    * function N(h) whose growth curve gives the effective diameter
    * and whose per-seed reach a spread/influence model consumes.
    * Pregel-shape iteration: each round expands ONLY the previous
    * frontier (dist = h−1) through one keyed edge join, anti-joins
    * away already-reached nodes, and appends at dist = h — so dist is
    * min-distance by construction. Rounds are FIXED at 4 (the q224
    * budget contract: the census is "reach within h ≤ 4", replayable
    * as generated CTEs, never a data-dependent loop).
    *
    * Scale: the reach frame is keyed (seed, node) — |seeds|·|V| at
    * worst, bounded by the seed budget; each round is one equi-join +
    * one anti-join, lineage truncated per round ([[graft.functions
    * .Checkpoints]] discipline). At 100 TB with thousands of seeds
    * the exact per-seed sets become q210-style HLL registers OR-merged
    * per round (HyperANF, Boldi et al.) — same loop, sketched state. */
  val q228 = QueryDef(
    "q228_bfs_hops", {
      val rounds = (1 to 4).map { h =>
        s"""n$h AS MATERIALIZED (
          |  SELECT DISTINCT r.seed, e.dst AS node
          |  FROM r${h - 1} r JOIN e0 e ON r.node = e.src
          |  WHERE r.dist = ${h - 1}),
          |r$h AS MATERIALIZED (
          |  SELECT * FROM r${h - 1}
          |  UNION ALL
          |  SELECT n$h.seed, n$h.node, CAST($h AS BIGINT) AS dist
          |  FROM n$h LEFT JOIN r${h - 1} p
          |    ON p.seed = n$h.seed AND p.node = n$h.node
          |  WHERE p.node IS NULL)""".stripMargin
      }.mkString(",\n")
      s"""WITH items AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |co AS (
        |  SELECT x.i AS src, y.i AS dst, COUNT(*) AS c
        |  FROM items x JOIN items y ON x.b = y.b AND x.i <> y.i
        |  GROUP BY 1, 2),
        |e0 AS MATERIALIZED (SELECT src, dst FROM co WHERE c >= 2),
        |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e0
        |  GROUP BY 1),
        |seeds AS (SELECT src AS seed FROM deg
        |  ORDER BY d DESC, src LIMIT 5),
        |r0 AS (SELECT seed, seed AS node, CAST(0 AS BIGINT) AS dist
        |  FROM seeds),
        |$rounds,
        |cen AS (
        |  SELECT seed, dist AS hop, CAST(COUNT(*) AS BIGINT) AS n_nodes
        |  FROM r4 GROUP BY 1, 2)
        |SELECT seed, hop, n_nodes,
        |  CAST(SUM(n_nodes) OVER (PARTITION BY seed ORDER BY hop)
        |    AS BIGINT) AS cum_nodes
        |FROM cen ORDER BY seed, hop""".stripMargin
    }) { (s, d) =>
    import graft.functions.Checkpoints
    val li = Tables.lineitem(s, d)
    // support-graph pin DECLARES src-hash partitioning (round-12
    // phase 3, PartitionedCheckpoint): every BFS round joins the frontier on e.src and the seed
    // degree census groups by src — all now exchange-free on the
    // edge side
    val e = Checkpoints.pin(
      org.apache.spark.sql.graft.PartitionedCheckpoint.byKey(
        Recommender.coOccurrenceAuto(li, "l_orderkey", "l_partkey")
          .filter(col("n_baskets") >= 2)
          .select(col("item").as("src"), col("co_item").as("dst")),
        Seq("src")))
    val seeds = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("src")).limit(5)
      .select(col("src").as("seed"))
    var reach = Checkpoints.pin(seeds
      .select(col("seed"), col("seed").as("node"), lit(0L).as("dist"))
      .localCheckpoint())
    for (h <- 1 to 4) {
      val cand = reach.filter(col("dist") === (h - 1))
        .join(e, col("node") === col("src"))
        .select(col("seed"), col("dst").as("node")).distinct()
      val fresh = cand
        .join(reach.select(col("seed"), col("node")),
          Seq("seed", "node"), "left_anti")
        .select(col("seed"), col("node"), lit(h.toLong).as("dist"))
      val next = Checkpoints.pin(
        reach.unionByName(fresh).localCheckpoint())
      Checkpoints.free(reach)
      reach = next
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("seed")).orderBy(col("hop"))
    reach.groupBy(col("seed"), col("dist").as("hop"))
      .agg(count(lit(1)).as("n_nodes"))
      .withColumn("cum_nodes", sum(col("n_nodes")).over(w))
      .orderBy(col("seed"), col("hop"))
  }

  /** q230 — seeded label propagation (Raghavan et al. 2007, the
    * semi-supervised "communities around known hubs" form): the 10
    * highest-degree hubs of the q224 support graph seed their own
    * node id as a community label; each round, every still-unlabeled
    * node adopts the MAJORITY label among its labeled neighbors
    * (ties → smallest label — the determinism pin plain LPA lacks),
    * and seeds/earlier adopters never flip. 3 fixed rounds (the
    * q224/q228 budget contract). Final census: community sizes plus
    * a label = −1 row counting nodes no label reached — distinct
    * from q185's connected components, which would merge everything
    * reachable into one blob regardless of hub structure.
    *
    * Scale: each round is one edge⋈labels keyed join, a (node,
    * label) count agg, and a per-node argmax window — all keyed by
    * node id, lineage truncated per round ([[graft.functions
    * .Checkpoints]]); label state is ≤|V| rows. */
  val q230 = QueryDef(
    "q230_label_propagation", {
      val rounds = (1 to 3).map { h =>
        s"""cand$h AS (
          |  SELECT e.src AS node, l.label, COUNT(*) AS cnt
          |  FROM e0 e JOIN lab${h - 1} l ON e.dst = l.node
          |  LEFT JOIN lab${h - 1} x ON x.node = e.src
          |  WHERE x.node IS NULL
          |  GROUP BY 1, 2),
          |pick$h AS (
          |  SELECT node, label FROM (
          |    SELECT node, label, ROW_NUMBER() OVER (PARTITION BY node
          |      ORDER BY cnt DESC, label) AS rn
          |    FROM cand$h) WHERE rn = 1),
          |lab$h AS MATERIALIZED (
          |  SELECT * FROM lab${h - 1}
          |  UNION ALL SELECT * FROM pick$h)""".stripMargin
      }.mkString(",\n")
      s"""WITH items AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |co AS (
        |  SELECT x.i AS src, y.i AS dst, COUNT(*) AS c
        |  FROM items x JOIN items y ON x.b = y.b AND x.i <> y.i
        |  GROUP BY 1, 2),
        |e0 AS MATERIALIZED (SELECT src, dst FROM co WHERE c >= 2),
        |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e0
        |  GROUP BY 1),
        |seeds AS (SELECT src AS seed FROM deg
        |  ORDER BY d DESC, src LIMIT 10),
        |lab0 AS (SELECT seed AS node, seed AS label FROM seeds),
        |$rounds,
        |nodes AS (SELECT DISTINCT src AS node FROM e0)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_nodes
        |FROM lab3 GROUP BY 1
        |UNION ALL
        |SELECT CAST(-1 AS BIGINT) AS label,
        |  CAST(COUNT(*) AS BIGINT) AS n_nodes
        |FROM nodes n LEFT JOIN lab3 l ON n.node = l.node
        |WHERE l.node IS NULL
        |ORDER BY label""".stripMargin
    }) { (s, d) =>
    import graft.functions.Checkpoints
    val li = Tables.lineitem(s, d)
    // support-graph pin DECLARES dst-hash partitioning (round-12
    // phase 3, PartitionedCheckpoint): every propagation round joins labels on e.dst — the edge
    // side of that join is now exchange-free (seeds/nodes pay their
    // own src exchanges either way)
    val e = Checkpoints.pin(
      org.apache.spark.sql.graft.PartitionedCheckpoint.byKey(
        Recommender.coOccurrenceAuto(li, "l_orderkey", "l_partkey")
          .filter(col("n_baskets") >= 2)
          .select(col("item").as("src"), col("co_item").as("dst")),
        Seq("dst")))
    val seeds = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("src")).limit(10)
      .select(col("src").as("seed"))
    var lab = Checkpoints.pin(seeds
      .select(col("seed").as("node"), col("seed").as("label"))
      .localCheckpoint())
    val wPick = org.apache.spark.sql.expressions.Window
      .partitionBy(col("node")).orderBy(col("cnt").desc, col("label"))
    for (_ <- 1 to 3) {
      val cand = e
        .join(lab.select(col("node").as("dst"), col("label")),
          Seq("dst"))
        .join(lab.select(col("node").as("src")), Seq("src"),
          "left_anti")
        .groupBy(col("src").as("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val pick = cand.withColumn("rn", row_number().over(wPick))
        .filter(col("rn") === 1).select(col("node"), col("label"))
      val next = Checkpoints.pin(
        lab.unionByName(pick).localCheckpoint())
      Checkpoints.free(lab)
      lab = next
    }
    val nodes = e.select(col("src").as("node")).distinct()
    val sizes = lab.groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"))
    val unreached = nodes.join(lab.select(col("node")), Seq("node"),
        "left_anti")
      .agg(count(lit(1)).as("n_nodes"))
      .select(lit(-1L).as("label"), col("n_nodes"))
    sizes.unionByName(unreached).orderBy(col("label"))
  }

  /** q239 — HyperANF sketched reach (Boldi, Rosa & Vigna 2011),
    * audited against q228's exact BFS: the 1000-seed scale path
    * q228's scaladoc promises, actually built. Every node carries a
    * 64-register HLL sketch of "nodes that can reach me within h
    * hops" (the q210 portable register grid: md5-slice bucket and
    * 33-bit rho, integer-exact harmonic sum, linear-counting branch
    * on the mnat grid); each round OR-merges every node's sketch
    * with its out-neighbors' — in exploded (node, register) form the
    * merge is ONE union + keyed max per round, exactly the shape
    * that replaces q228's per-seed reached-SET join when seeds are
    * many. The audit: for the same 5 hub seeds, estimate vs exact
    * reach at hops 1–4 with signed err_ppm — the measured accuracy
    * contract (HLL at m=64 promises ~13% standard error; the output
    * shows where these registers actually land).
    *
    * Scale: sketch state is |V|·64 rows max REGARDLESS of seed
    * count or reach size — per-seed cost is O(1) lookups at
    * estimate time, vs q228's |seeds|·|V| reach frame. Rounds are
    * union + keyed agg, lineage truncated per round. */
  val q239 = QueryDef(
    "q239_hyperanf_reach", {
      val u32a = TextQueries.hexU32Sql(1)
      val u32b = TextQueries.hexU32Sql(9)
      val rounds = (1 to 4).map { h =>
        s"""b$h AS MATERIALIZED (
          |  SELECT node, bucket, CAST(MAX(m) AS BIGINT) AS m FROM (
          |    SELECT node, bucket, m FROM b${h - 1}
          |    UNION ALL
          |    SELECT e.src AS node, b.bucket, b.m
          |    FROM e0 e JOIN b${h - 1} b ON b.node = e.dst)
          |  GROUP BY 1, 2)""".stripMargin
      }.mkString(",\n")
      val bfs = (1 to 4).map { h =>
        s"""n$h AS MATERIALIZED (
          |  SELECT DISTINCT r.seed, e.dst AS node
          |  FROM r${h - 1} r JOIN e0 e ON r.node = e.src
          |  WHERE r.dist = ${h - 1}),
          |r$h AS MATERIALIZED (
          |  SELECT * FROM r${h - 1}
          |  UNION ALL
          |  SELECT n$h.seed, n$h.node, CAST($h AS BIGINT) AS dist
          |  FROM n$h LEFT JOIN r${h - 1} p
          |    ON p.seed = n$h.seed AND p.node = n$h.node
          |  WHERE p.node IS NULL)""".stripMargin
      }.mkString(",\n")
      val ests = (1 to 4).map { h =>
        s"""SELECT sr.seed, CAST($h AS BIGINT) AS hop,
          |  CASE WHEN (709 * 4096 * (CAST(1 AS BIGINT) << 33))
          |      // sr.ssum <= 160000 AND sr.v_empty > 0
          |    THEN 64 * (${graft.functions.LangModel.mnatSql("64")}
          |      - ${graft.functions.LangModel.mnatSql("sr.v_empty")})
          |    ELSE (709 * 4096 * (CAST(1 AS BIGINT) << 33)) // sr.ssum
          |    END AS est_milli,
          |  x.n_exact
          |FROM (
          |  SELECT s.seed,
          |    CAST(SUM(CAST(1 AS BIGINT) << (33 - b.m)) AS BIGINT)
          |      + (64 - CAST(COUNT(*) AS BIGINT))
          |        * (CAST(1 AS BIGINT) << 33) AS ssum,
          |    64 - CAST(COUNT(*) AS BIGINT) AS v_empty
          |  FROM b$h b JOIN seeds s ON b.node = s.seed
          |  GROUP BY 1) sr
          |JOIN (
          |  SELECT seed, CAST(COUNT(*) AS BIGINT) AS n_exact
          |  FROM r$h GROUP BY 1) x ON sr.seed = x.seed""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH items AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |co AS (
        |  SELECT x.i AS src, y.i AS dst, COUNT(*) AS c
        |  FROM items x JOIN items y ON x.b = y.b AND x.i <> y.i
        |  GROUP BY 1, 2),
        |e0 AS MATERIALIZED (SELECT src, dst FROM co WHERE c >= 2),
        |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e0
        |  GROUP BY 1),
        |seeds AS (SELECT src AS seed FROM deg
        |  ORDER BY d DESC, src LIMIT 5),
        |nodes AS (SELECT DISTINCT src AS node FROM e0),
        |nh AS (SELECT node, md5(CAST(node AS VARCHAR)) AS hx
        |  FROM nodes),
        |b0 AS MATERIALIZED (
        |  SELECT node, $u32a % 64 AS bucket,
        |    CAST(33 - LENGTH(LTRIM(bin($u32b), '0')) AS BIGINT) AS m
        |  FROM nh),
        |$rounds,
        |r0 AS (SELECT seed, seed AS node, CAST(0 AS BIGINT) AS dist
        |  FROM seeds),
        |$bfs,
        |u AS (
        |$ests)
        |SELECT seed, hop, est_milli, n_exact,
        |  CAST(FLOOR(1e6 * (est_milli - 1000.0 * n_exact)
        |    / (1000.0 * n_exact)) AS BIGINT) AS err_ppm
        |FROM u ORDER BY seed, hop""".stripMargin
    }) { (s, d) =>
    import graft.functions.Checkpoints
    val li = Tables.lineitem(s, d)
    // support-graph pin DECLARES src-hash partitioning (round-12
    // phase 3, PartitionedCheckpoint): the BFS audit rounds join the frontier on e.src; the HLL
    // chain gets its own dst-keyed copy below
    val e = Checkpoints.pin(
      org.apache.spark.sql.graft.PartitionedCheckpoint.byKey(
        Recommender.coOccurrenceAuto(li, "l_orderkey", "l_partkey")
          .filter(col("n_baskets") >= 2)
          .select(col("item").as("src"), col("co_item").as("dst")),
        Seq("src")))
    val seeds = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("src")).limit(5)
      .select(col("src").as("seed"))
    // dst-keyed copy for the HLL chain: each of its 4 rounds joins
    // registers on e.dst, so the edge side of every round is
    // exchange-free (one extra |E|-row materialization buys 4)
    val eDst = Checkpoints.pin(
      org.apache.spark.sql.graft.PartitionedCheckpoint.byKey(
        e, Seq("dst")))
    // per-node HLL registers (the q210 grid)
    val b0 = e.select(col("src").as("node")).distinct()
      .withColumn("hx", md5(col("node").cast("string")))
      .select(col("node"),
        (conv(substring(col("hx"), 1, 8), 16, 10).cast("long") % 64)
          .as("bucket"),
        (lit(33) - length(ltrim(expr(
          "bin(conv(substring(hx, 9, 8), 16, 10))"), "0")))
          .cast("long").as("m"))
    // The HLL sketch rounds and the exact-BFS audit rounds are two
    // INDEPENDENT iterative checkpoint chains off the same pinned
    // edge frame, only meeting at the final estimate-vs-exact join —
    // overlap them on driver threads (round-12; guide §2.6), the same
    // treatment as the q344/q350 ladders.
    val chains = graft.functions.Concurrent.inParallel[AnyRef](s, Seq(
      () => {
        var b = Checkpoints.pin(b0.localCheckpoint())
        val acc = Seq.newBuilder[org.apache.spark.sql.DataFrame]
        for (_ <- 1 to 4) {
          val nb = b.unionByName(
              eDst.join(b.withColumnRenamed("node", "dstn"),
                col("dstn") === col("dst"))
                .select(col("src").as("node"), col("bucket"), col("m")))
            .groupBy(col("node"), col("bucket"))
            .agg(max(col("m")).as("m"))
          b = Checkpoints.pin(nb.localCheckpoint())
          acc += b
        }
        acc.result()
      },
      () => {
        // exact reach (the q228 loop)
        var reach = Checkpoints.pin(seeds
          .select(col("seed"), col("seed").as("node"), lit(0L).as("dist"))
          .localCheckpoint())
        for (h <- 1 to 4) {
          val cand = reach.filter(col("dist") === (h - 1))
            .join(e, col("node") === col("src"))
            .select(col("seed"), col("dst").as("node")).distinct()
          val fresh = cand
            .join(reach.select(col("seed"), col("node")),
              Seq("seed", "node"), "left_anti")
            .select(col("seed"), col("node"), lit(h.toLong).as("dist"))
          val next = Checkpoints.pin(
            reach.unionByName(fresh).localCheckpoint())
          Checkpoints.free(reach)
          reach = next
        }
        reach
      }))
    val sketches = chains(0)
      .asInstanceOf[Seq[org.apache.spark.sql.DataFrame]]
    val reach = chains(1).asInstanceOf[org.apache.spark.sql.DataFrame]
    import graft.functions.LangModel.mnat
    val perHop = (1 to 4).map { h =>
      val sr = sketches(h - 1)
        .join(seeds, col("node") === col("seed"))
        .groupBy(col("seed"))
        .agg((sum(expr(
          "shiftleft(cast(1 as bigint), cast(33 - m as int))"))
          + (lit(64L) - count(lit(1))) * lit(8589934592L)).as("ssum"),
          (lit(64L) - count(lit(1))).as("v_empty"))
        .withColumn("raw_milli",
          expr("(709 * 4096 * shiftleft(cast(1 as bigint), 33))" +
            " div ssum"))
        .withColumn("est_milli",
          when(col("raw_milli") <= 160000L && col("v_empty") > 0,
            lit(64L) * (mnat(lit(64L)) - mnat(col("v_empty"))))
            .otherwise(col("raw_milli")))
      val exact = reach.filter(col("dist") <= h)
        .groupBy(col("seed")).agg(count(lit(1)).as("n_exact"))
      sr.join(exact, Seq("seed"))
        .select(col("seed"), lit(h.toLong).as("hop"),
          col("est_milli"), col("n_exact"))
    }
    perHop.reduce(_ unionByName _)
      .withColumn("err_ppm",
        floor(lit(1e6) * (col("est_milli") - lit(1000.0)
          * col("n_exact")) / (lit(1000.0) * col("n_exact")))
          .cast("long"))
      .orderBy(col("seed"), col("hop"))
  }

  /** q246 — degree assortativity of the support graph (Newman 2002):
    * the one-number "do hubs connect to hubs?" summary — Pearson
    * correlation of (deg(src), deg(dst)) over the directed edge set.
    * Positive = assortative (social-network-like), negative =
    * disassortative (hub-and-spoke, typical of co-purchase graphs).
    * Exact integer moments over edges (the q234 discipline), one
    * float division at the end, reported in milli.
    *
    * Scale: degree census + one keyed join per endpoint + one global
    * fold — all map-side combinable. */
  val q246 = QueryDef(
    "q246_assortativity",
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
      |co AS (
      |  SELECT x.i AS src, y.i AS dst, COUNT(*) AS c
      |  FROM items x JOIN items y ON x.b = y.b AND x.i <> y.i
      |  GROUP BY 1, 2),
      |e0 AS (SELECT src, dst FROM co WHERE c >= 2),
      |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e0
      |  GROUP BY 1),
      |ed AS (
      |  SELECT da.d AS x, db.d AS y
      |  FROM e0 JOIN deg da ON e0.src = da.src
      |  JOIN deg db ON e0.dst = db.src),
      |mo AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x * y) AS BIGINT) AS sxy,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx,
      |    CAST(SUM(y * y) AS BIGINT) AS syy
      |  FROM ed)
      |SELECT n AS n_edges,
      |  CAST(FLOOR(1000.0 * CAST(n * sxy - sx * sy AS DOUBLE)
      |    / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
      |         * CAST(n * syy - sy * sy AS DOUBLE))) AS BIGINT)
      |    AS r_milli
      |FROM mo
      |WHERE n * sxx > sx * sx AND n * syy > sy * sy""".stripMargin) {
    (s, d) =>
    val li = Tables.lineitem(s, d)
    val e0 = Recommender.coOccurrenceAuto(
        li, "l_orderkey", "l_partkey")
      .filter(col("n_baskets") >= 2)
      .select(col("item").as("src"), col("co_item").as("dst"))
    // pin with declared src partitioning (round-12 phase 3): e feeds
    // deg AND ed — unpinned, each replayed the pair census; keyed,
    // the degree agg and ed's src join are also exchange-free
    val e = graft.functions.Checkpoints.pin(
      org.apache.spark.sql.graft.PartitionedCheckpoint.byKey(
        e0, Seq("src")))
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val ed = e.join(deg.select(col("src"), col("d").as("x")),
        Seq("src"))
      .join(deg.select(col("src").as("dst"), col("d").as("y")),
        Seq("dst"))
    ed.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .filter(col("n") * col("sxx") > col("sx") * col("sx") &&
        col("n") * col("syy") > col("sy") * col("sy"))
      .select(col("n").as("n_edges"),
        floor(lit(1000.0)
          * (col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double")
          / sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double")
            * (col("n") * col("syy") - col("sy") * col("sy"))
              .cast("double"))).cast("long").as("r_milli"))
  }

  /** q244 — Bradley–Terry strength from pairwise comparisons
    * (Bradley & Terry 1952; Hunter's 2004 MM iteration) — the
    * aggregation model behind preference/reward ranking: when all
    * you observe is "a beat b", BT recovers a latent strength per
    * item such that P(i beats j) = πᵢ/(πᵢ+πⱼ). Comparisons here:
    * within each basket, the part bought in larger quantity beats
    * the other (ties drop — no information). Two MM rounds
    * πᵢ ← Wᵢ / Σⱼ nᵢⱼ/(πᵢ+πⱼ), with the q82 float discipline
    * applied twice over: per-pair contributions snap to integer
    * pico-units before the keyed sum (order-independent), and the
    * updated π snaps to integer micro-units before the next round —
    * so every round's inputs are integers and both engines replay
    * the identical sequence. π floors at 1 micro (a winless item's
    * zero strength would divide the next round by zero). Top-25 by
    * (strength desc, part).
    *
    * Scale: the pair census rides the q36 basket cap; the MM round
    * is one keyed join + keyed agg per iteration over the DIRECTED
    * pair frame (vocab²-bounded, like q223); strengths are |items|
    * rows. */
  val q244 = QueryDef(
    "q244_bradley_terry", {
      val mmRound = (h: Int) =>
        s"""c$h AS (
          |  SELECT dir.i,
          |    CAST(SUM(CAST(FLOOR(dir.n * 1e18
          |      / (pa.pi + pb.pi) + 0.5) AS BIGINT)) AS BIGINT) AS s
          |  FROM dir JOIN p${h - 1} pa ON dir.i = pa.i
          |  JOIN p${h - 1} pb ON dir.j = pb.i
          |  GROUP BY 1),
          |p$h AS (
          |  SELECT w.i, GREATEST(CAST(1 AS BIGINT),
          |    CAST(FLOOR(w.w * 1e18 / c$h.s + 0.5) AS BIGINT)) AS pi
          |  FROM w JOIN c$h ON w.i = c$h.i)""".stripMargin
      s"""WITH iq AS (
        |  SELECT l_orderkey AS b, l_partkey AS i,
        |    CAST(SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT))
        |      AS BIGINT) AS q
        |  FROM lineitem GROUP BY 1, 2),
        |pc AS (
        |  SELECT a.i AS x, bb.i AS y, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN a.q > bb.q THEN 1 ELSE 0 END)
        |      AS BIGINT) AS wx
        |  FROM iq a JOIN iq bb ON a.b = bb.b AND a.i < bb.i
        |  WHERE a.q <> bb.q
        |  GROUP BY 1, 2),
        |dir AS (
        |  SELECT x AS i, y AS j, n, wx AS w FROM pc
        |  UNION ALL SELECT y AS i, x AS j, n, n - wx AS w FROM pc),
        |w AS (
        |  SELECT i, CAST(SUM(n) AS BIGINT) AS n_comp,
        |    CAST(SUM(w) AS BIGINT) AS w
        |  FROM dir GROUP BY 1),
        |p0 AS (SELECT i, CAST(1000000 AS BIGINT) AS pi FROM w),
        |${mmRound(1)},
        |${mmRound(2)}
        |SELECT w.i AS part, w.n_comp, w.w AS wins, p2.pi AS pi_micro
        |FROM w JOIN p2 ON w.i = p2.i
        |ORDER BY pi_micro DESC, part LIMIT 25""".stripMargin
    }) { (s, d) =>
    val li = Tables.lineitem(s, d)
    // the q36 cost-based cap: exact at test scale (histogram fits the
    // budget, nothing dropped — the oracle stays uncapped), bounding
    // the quadratic pair expansion at 100 TB. The cap histogram is
    // derived from the SAME pinned (b, i, q) frame the pair join
    // consumes (one row per distinct (b, i) by construction — was a
    // separate scan+distinct probe), and the breadth filter is elided
    // when the budget admits every basket (the boundedItems no-op
    // elision).
    // the (b, i) aggregation FUSED into the b-keyed exchange
    // (round-12 phase 3): b-partitioning satisfies the (b, i)
    // grouping's clustering, so the agg runs in place — one shuffle
    // where agg-then-byKey paid two.
    val iq0 = graft.functions.Checkpoints.pin(
      org.apache.spark.sql.graft.PartitionedCheckpoint.byKeyWith(li
        .select(col("l_orderkey").as("b"), col("l_partkey").as("i"),
          col("l_quantity")), Seq("b"))(
        _.groupBy(col("b"), col("i"))
          .agg(sum(expr("cast(floor(l_quantity + 0.5) as bigint)"))
            .as("q"))))
    val (cap, maxObs) = Recommender.capFromDistinct(iq0, "b")
    val iq = if (cap >= maxObs) iq0 else iq0
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("b"))))
      .filter(col("__n") <= cap)
      .drop("__n")
    val pc = iq.select(col("b"), col("i").as("x"), col("q").as("qx"))
      .join(iq.select(col("b"), col("i").as("y"), col("q").as("qy")),
        Seq("b"))
      .filter(col("x") < col("y") && col("qx") =!= col("qy"))
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("qx") > col("qy"), 1L).otherwise(0L)).as("wx"))
    // both orientations in one pass (the q219 explode form) — the
    // unionByName(swap) shape re-ran the post-shuffle pair census per
    // branch — and the frame is checkpoint-pinned: dir feeds the win
    // census plus BOTH sides of each MM round's join (5 consumers),
    // which otherwise each replay the pair census + explode
    val dir = graft.functions.Checkpoints.pin(pc.select(explode(array(
        struct(col("x").as("i"), col("y").as("j"), col("n"),
          col("wx").as("w")),
        struct(col("y").as("i"), col("x").as("j"), col("n"),
          (col("n") - col("wx")).as("w")))).as("s"))
      .select(col("s.i").as("i"), col("s.j").as("j"),
        col("s.n").as("n"), col("s.w").as("w"))
      .localCheckpoint())
    val wtab = dir.groupBy(col("i"))
      .agg(sum(col("n")).as("n_comp"), sum(col("w")).as("w"))
    var pi = wtab.select(col("i"), lit(1000000L).as("pi"))
    for (_ <- 1 to 2) {
      val sfr = dir
        .join(pi.select(col("i"), col("pi").as("pa")), Seq("i"))
        .join(pi.select(col("i").as("j"), col("pi").as("pb")),
          Seq("j"))
        .groupBy(col("i"))
        .agg(sum(expr(
          "cast(floor(n * 1e18 / (pa + pb) + 0.5) as bigint)"))
          .as("s"))
      pi = wtab.join(sfr, Seq("i"))
        .select(col("i"), greatest(lit(1L),
          expr("cast(floor(w * 1e18 / s + 0.5) as bigint)"))
          .as("pi"))
    }
    wtab.join(pi, Seq("i"))
      .select(col("i").as("part"), col("n_comp"), col("w").as("wins"),
        col("pi").as("pi_micro"))
      .orderBy(col("pi_micro").desc, col("part"))
      .limit(25)
  }

  /** q257 — HITS hubs & authorities (Kleinberg 1999) on the bipartite
    * customer→part purchase graph: the OTHER classic link-analysis
    * scorer next to q82's PageRank — an authority is a part bought by
    * strong hubs (broad, well-connected buyers), a hub a customer who
    * buys strong authorities; the mutual recursion is exactly the
    * alternating I/O operation pair. 1.5 rounds unrolled (a¹ → h¹ →
    * a²), each score snapped to the micro grid by dividing by the
    * round's max (10⁶·a div max — the q82 integer-iteration
    * discipline with max-normalization instead of degree division),
    * so every round's inputs are exact integers and DuckDB's mirrored
    * CTE chain reproduces each snap bit-for-bit.
    *
    * Scale: each half-round is ONE keyed agg over the distinct edge
    * set (map-side combinable) + one broadcast one-row max frame —
    * no per-node state beyond the score frame, no all-pairs
    * anything; 100 TB grows edge weight, not the round count. */
  val q257 = QueryDef(
    "q257_hits_authority",
    """WITH e AS (
      |  SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS p
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      |a1 AS (
      |  SELECT p, CAST(1000000 * COUNT(*) AS BIGINT) AS a
      |  FROM e GROUP BY 1),
      |am1 AS (SELECT CAST(MAX(a) AS BIGINT) AS m FROM a1),
      |a1n AS (
      |  SELECT p, CAST((1000000 * a) // am1.m AS BIGINT) AS a
      |  FROM a1 CROSS JOIN am1),
      |h1 AS (
      |  SELECT e.u, CAST(SUM(a1n.a) AS BIGINT) AS h
      |  FROM e JOIN a1n ON e.p = a1n.p GROUP BY 1),
      |hm1 AS (SELECT CAST(MAX(h) AS BIGINT) AS m FROM h1),
      |h1n AS (
      |  SELECT u, CAST((1000000 * h) // hm1.m AS BIGINT) AS h
      |  FROM h1 CROSS JOIN hm1),
      |a2 AS (
      |  SELECT e.p, CAST(SUM(h1n.h) AS BIGINT) AS a,
      |    CAST(COUNT(*) AS BIGINT) AS n_buyers
      |  FROM e JOIN h1n ON e.u = h1n.u GROUP BY 1),
      |am2 AS (SELECT CAST(MAX(a) AS BIGINT) AS m FROM a2)
      |SELECT p AS part, n_buyers,
      |  CAST((1000000 * a2.a) // am2.m AS BIGINT) AS authority_micro
      |FROM a2 CROSS JOIN am2
      |ORDER BY authority_micro DESC, part LIMIT 25""".stripMargin) {
    (s, d) =>
    // ONE pinned (u, p) distinct with declared p partitioning
    // (round-12 phase 3): before, e was a lazy distinct over the
    // orders⋈lineitem join replayed by all three HITS phases (and
    // each phase's max-crossJoin replayed the phase itself — 124
    // Exchanges in the before-plan); now a1 and h1's p-join are
    // exchange-free, and each phase's small keyed aggregate is
    // materialized once so its max is a one-pass scan, not a replay.
    import graft.functions.Checkpoints
    val e = Checkpoints.pin(
      org.apache.spark.sql.graft.PartitionedCheckpoint.byKeyWith(
        Tables.orders(s, d)
          .join(Tables.lineitem(s, d),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("u"), col("l_partkey").as("p")),
        Seq("p"))(_.dropDuplicates()))
    val a1 = Checkpoints.pin(e.groupBy(col("p"))
      .agg((lit(1000000L) * count(lit(1))).as("a"))
      .localCheckpoint())
    val a1n = a1.crossJoin(broadcast(a1.agg(max(col("a")).as("m"))))
      .select(col("p"), expr("(1000000L * a) div m").as("a"))
    val h1 = Checkpoints.pin(e.join(a1n, Seq("p"))
      .groupBy(col("u")).agg(sum(col("a")).as("h"))
      .localCheckpoint())
    val h1n = h1.crossJoin(broadcast(h1.agg(max(col("h")).as("m"))))
      .select(col("u"), expr("(1000000L * h) div m").as("h"))
    val a2 = Checkpoints.pin(e.join(h1n, Seq("u"))
      .groupBy(col("p"))
      .agg(sum(col("h")).as("a"), count(lit(1)).as("n_buyers"))
      .localCheckpoint())
    a2.crossJoin(broadcast(a2.agg(max(col("a")).as("m"))))
      .select(col("p").as("part"), col("n_buyers"),
        expr("(1000000L * a) div m").as("authority_micro"))
      .orderBy(col("authority_micro").desc, col("part"))
      .limit(25)
  }

  /** q265 — harmonic & closeness centrality of the 5 hub seeds
    * (Marchiori & Latora 2000; Wasserman & Faust 1994) over the q224
    * support graph, from the SAME 4-round frontier BFS as q228 (hop
    * census) and q239 (sketched reach) — the per-seed distance sums
    * those queries compute but never score. Harmonic centrality is
    * the disconnection-safe form Σ 1/d — exact on the micro grid as
    * Σ (10⁶ // d) since every d is an integer hop count (no float
    * division at all); closeness uses the Wasserman–Faust
    * completeness correction r²·10⁶ // ((n−1)·Σd) (r = nodes
    * reached, n = graph nodes) so partially-reachable seeds aren't
    * inflated. Four hops bounds both (the documented q228 budget
    * contract); beyond-horizon nodes contribute 0 to harmonic,
    * exactly as the definition's 1/∞ prescribes.
    *
    * Scale: frontier-only expansion (each round joins ONLY the
    * previous hop's frontier against the edge frame), per-seed state
    * = visited set; the final score is one keyed agg + a one-row
    * node-count broadcast. Seed count is the knob — 1000 seeds is
    * 1000× the frontier rows, same plan. */
  val q265 = QueryDef(
    "q265_centrality", {
      val rounds = (1 to 4).map { h =>
        s"""n$h AS MATERIALIZED (
          |  SELECT DISTINCT r.seed, e.dst AS node
          |  FROM r${h - 1} r JOIN e0 e ON r.node = e.src
          |  WHERE r.dist = ${h - 1}),
          |r$h AS MATERIALIZED (
          |  SELECT * FROM r${h - 1}
          |  UNION ALL
          |  SELECT n$h.seed, n$h.node, CAST($h AS BIGINT) AS dist
          |  FROM n$h LEFT JOIN r${h - 1} p
          |    ON p.seed = n$h.seed AND p.node = n$h.node
          |  WHERE p.node IS NULL)""".stripMargin
      }.mkString(",\n")
      s"""WITH items AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |co AS (
        |  SELECT x.i AS src, y.i AS dst, COUNT(*) AS c
        |  FROM items x JOIN items y ON x.b = y.b AND x.i <> y.i
        |  GROUP BY 1, 2),
        |e0 AS MATERIALIZED (SELECT src, dst FROM co WHERE c >= 2),
        |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e0
        |  GROUP BY 1),
        |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
        |seeds AS (SELECT src AS seed FROM deg
        |  ORDER BY d DESC, src LIMIT 5),
        |r0 AS (SELECT seed, seed AS node, CAST(0 AS BIGINT) AS dist
        |  FROM seeds),
        |$rounds
        |SELECT r.seed, CAST(COUNT(*) AS BIGINT) AS reached,
        |  CAST(SUM(r.dist) AS BIGINT) AS sum_dist,
        |  CAST(SUM(1000000 // r.dist) AS BIGINT) AS harmonic_micro,
        |  CAST((COUNT(*) * COUNT(*) * 1000000)
        |    // ((nt.n - 1) * SUM(r.dist)) AS BIGINT) AS closeness_micro
        |FROM r4 r CROSS JOIN nt
        |WHERE r.dist > 0
        |GROUP BY r.seed, nt.n
        |ORDER BY r.seed""".stripMargin
    }) { (s, d) =>
    import graft.functions.Checkpoints
    val li = Tables.lineitem(s, d)
    // support-graph pin DECLARES src-hash partitioning (round-12
    // phase 3, PartitionedCheckpoint): every BFS round joins the frontier on e.src and the seed
    // degree census groups by src — all now exchange-free on the
    // edge side
    val e = Checkpoints.pin(
      org.apache.spark.sql.graft.PartitionedCheckpoint.byKey(
        Recommender.coOccurrenceAuto(li, "l_orderkey", "l_partkey")
          .filter(col("n_baskets") >= 2)
          .select(col("item").as("src"), col("co_item").as("dst")),
        Seq("src")))
    val nt = e.select(col("src")).distinct()
      .agg(count(lit(1)).as("n"))
    val seeds = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("src")).limit(5)
      .select(col("src").as("seed"))
    var reach = Checkpoints.pin(seeds
      .select(col("seed"), col("seed").as("node"), lit(0L).as("dist"))
      .localCheckpoint())
    for (h <- 1 to 4) {
      val cand = reach.filter(col("dist") === (h - 1))
        .join(e, col("node") === col("src"))
        .select(col("seed"), col("dst").as("node")).distinct()
      val fresh = cand
        .join(reach.select(col("seed"), col("node")),
          Seq("seed", "node"), "left_anti")
        .select(col("seed"), col("node"), lit(h.toLong).as("dist"))
      val next = Checkpoints.pin(
        reach.unionByName(fresh).localCheckpoint())
      Checkpoints.free(reach)
      reach = next
    }
    reach.filter(col("dist") > 0)
      .crossJoin(broadcast(nt))
      .groupBy(col("seed"), col("n"))
      .agg(count(lit(1)).as("reached"), sum(col("dist")).as("sum_dist"),
        sum(expr("1000000L div dist")).as("harmonic_micro"))
      .select(col("seed"), col("reached"), col("sum_dist"),
        col("harmonic_micro"),
        expr("""(reached * reached * 1000000L)
          | div ((n - 1) * sum_dist)""".stripMargin)
          .as("closeness_micro"))
      .orderBy(col("seed"))
  }

  /** q309 — NEWMAN MODULARITY of the brand partition on the q224
    * co-purchase support graph (Newman & Girvan 2004): does the
    * catalog's brand structure explain who gets co-bought with whom?
    * Q = Σ_c [E_c/M − (D_c/M)²] over the DIRECTED edge set (each
    * undirected edge counted both ways, so M = 2m and D_c is the
    * out-degree mass of community c — algebraically identical to the
    * undirected form). Complements q246 (degree assortativity asks
    * "do hubs link hubs?"; this asks "does a LABELING explain the
    * topology?") and scores any partition — plug in q230's
    * label-prop communities unchanged. Output per brand: nodes,
    * within-edges, degree mass, and the exact-ppm contribution
    * fd(10⁶·(M·E_c − D_c²), M²) (sign-safe floor — contributions of
    * under-connected communities are negative; the division is the
    * pure-int64 integral `div`, NOT `Column.divide`, whose double
    * promotion loses exactness once the numerator passes 2^53).
    * Headroom: the ppm snap multiplies 10⁶·M·E_c, exact in int64 for
    * M ≤ ~3·10⁶ directed edges (the q292 documentation convention);
    * beyond that, snap the two terms separately.
    *
    * Scale: edge list → one broadcast join to the part dim for
    * labels, one community-keyed agg (map-side combinable), one
    * one-row M frame — no step grows past the edge census q224
    * already pays. */
  val q309 = QueryDef(
    "q309_brand_modularity", {
      def fd(a: String, b: String) =
        s"(($a) - ((($a) % ($b) + ($b)) % ($b))) // ($b)"
      s"""WITH items AS (
      |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
      |co AS (
      |  SELECT x.i AS src, y.i AS dst, COUNT(*) AS c
      |  FROM items x JOIN items y ON x.b = y.b AND x.i <> y.i
      |  GROUP BY 1, 2),
      |e0 AS (SELECT src, dst FROM co WHERE c >= 2),
      |lab AS (SELECT p_partkey AS i, p_brand AS comm FROM part),
      |el AS (
      |  SELECT ls.comm AS src_c, ld.comm AS dst_c
      |  FROM e0 JOIN lab ls ON ls.i = e0.src
      |  JOIN lab ld ON ld.i = e0.dst),
      |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS mm FROM el),
      |cc AS (
      |  SELECT src_c AS comm,
      |    CAST(SUM(CASE WHEN src_c = dst_c THEN 1 ELSE 0 END)
      |      AS BIGINT) AS e_within,
      |    CAST(COUNT(*) AS BIGINT) AS d_sum
      |  FROM el GROUP BY 1),
      |nn AS (SELECT lab.comm, CAST(COUNT(DISTINCT e0.src) AS BIGINT)
      |    AS n_nodes
      |  FROM e0 JOIN lab ON lab.i = e0.src GROUP BY 1)
      |SELECT cc.comm, nn.n_nodes, cc.e_within, cc.d_sum,
      |  CAST(${fd("1000000 * (m.mm * cc.e_within - cc.d_sum * cc.d_sum)",
        "m.mm * m.mm")} AS BIGINT) AS q_contrib_ppm
      |FROM cc JOIN nn ON nn.comm = cc.comm CROSS JOIN m
      |ORDER BY cc.comm""".stripMargin
    }) { (s, d) =>
    val li = Tables.lineitem(s, d)
    val support = Recommender.coOccurrenceAuto(
        li, "l_orderkey", "l_partkey")
      .filter(col("n_baskets") >= 2)
      .select(col("item").as("src"), col("co_item").as("dst"))
    val lab = Tables.part(s, d)
      .select(col("p_partkey").as("i"), col("p_brand").as("comm"))
    val el = support
      .join(broadcast(lab.select(col("i").as("src"),
        col("comm").as("src_c"))), Seq("src"))
      .join(broadcast(lab.select(col("i").as("dst"),
        col("comm").as("dst_c"))), Seq("dst"))
    // Eager localCheckpoint + pin, NOT cache(): m/cc/nn all read el and
    // the final plan broadcasts m — concurrent subtree jobs race on an
    // unpopulated cache and each recompute the co-occurrence stage
    // (the measured q310 race; see graft.functions.Checkpoints).
    val elp = graft.functions.Checkpoints.pin(el.localCheckpoint())
    val m = elp.agg(count(lit(1)).as("mm"))
    val cc = elp.groupBy(col("src_c").as("comm"))
      .agg(sum(when(col("src_c") === col("dst_c"), 1L).otherwise(0L))
        .as("e_within"),
        count(lit(1)).as("d_sum"))
    val nn = elp.select(col("src"), col("src_c").as("comm")).distinct()
      .groupBy(col("comm")).agg(count(lit(1)).as("n_nodes"))
    val num = expr("1000000L * (mm * e_within - d_sum * d_sum)")
    val den = expr("mm * mm")
    cc.join(nn, Seq("comm")).crossJoin(broadcast(m))
      .select(col("comm"), col("n_nodes"), col("e_within"), col("d_sum"),
        call_function("div", num - pmod(num, den), den)
          .as("q_contrib_ppm"))
      .orderBy("comm")
  }

  val all: Seq[QueryDef] =
    Seq(q36, q37, q45, q45b, q82, q161, q189, q219, q223, q224, q228,
      q230, q239, q244, q246, q257, q265, q309)
}
