package graft.ml

import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PartitionedCheckpoint
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Collaborative-filtering recommender (the reference's
  * recommendation-signal surface, `ingestion/producer/producer.py:84-104`
  * and the `recommendation_*` event types, realized as actual models —
  * the reference emits signals but never trains anything).
  *
  * Two paths:
  *  - [[als]]: MLlib ALS matrix factorization on implicit feedback —
  *    the scale path (block-partitioned factor computation, no driver
  *    materialization; `recommendForAllUsers` is a blocked cross-join
  *    top-k, not N×M).
  *  - [[coOccurrence]]: deterministic item-item "bought-together"
  *    scores — exact, SQL-expressible (oracle-checkable), and the
  *    standard cold-start fallback next to ALS.
  */
object Recommender {

  /** Implicit-feedback ratings from interaction rows: weight-summed
    * events per (user, item). */
  def implicitRatings(df: DataFrame, userCol: String, itemCol: String,
                      weight: org.apache.spark.sql.Column): DataFrame =
    df.groupBy(col(userCol).as("user"), col(itemCol).as("item"))
      .agg(sum(weight).cast("float").as("rating"))

  /** Seeded ALS on implicit feedback. Ranks/iters sized for tests;
    * at scale only numBlocks/checkpointInterval change. */
  def als(ratings: DataFrame, rank: Int = 8, maxIter: Int = 5,
          regParam: Double = 0.1, seed: Long = 42L): ALSModel =
    new ALS()
      .setUserCol("user").setItemCol("item").setRatingCol("rating")
      .setImplicitPrefs(true)
      .setRank(rank).setMaxIter(maxIter).setRegParam(regParam)
      .setSeed(seed)
      .setColdStartStrategy("drop")
      .fit(ratings)

  /** Top-k recommendations per user as (user, item, score) rows. */
  def recommendations(model: ALSModel, k: Int): DataFrame =
    flattenRecs(model.recommendForAllUsers(k))

  /** Top-k recommendations for a BOUNDED user subset — the right call
    * when serving a slice: `recommendForAllUsers` is a blocked
    * |U|×|I| scoring pass, while the subset variant scores only the
    * requested users' factor rows. A 50-user lookup against a 10⁸-user
    * model must not pay the full cross-scoring. */
  def recommendationsFor(model: ALSModel, users: DataFrame,
                         k: Int): DataFrame =
    flattenRecs(model.recommendForUserSubset(users, k))

  private def flattenRecs(recs: DataFrame): DataFrame =
    recs
      .select(col("user"), explode(col("recommendations")).as("r"))
      .select(col("user"), col("r.item").as("item"),
        col("r.rating").as("score"))

  /** Batch-inference serving path, factored out of the model object:
    * score a BOUNDED user slice against the item-factor matrix with the
    * codegen dot product ([[graft.functions.Vectors.dot]]), drop
    * already-seen (user, item) pairs, keep top-k per user.
    *
    * Contracts: `userFactors` is `(usr, fu: array<double>)` for the
    * bounded serving slice (broadcast — a 50-user lookup against a
    * 10⁸-item catalog streams the catalog once, no shuffle on the
    * scoring pass); `itemFactors` is `(item, fi: array<double>)`;
    * `seen` is `(usr, item)` pairs to exclude — bounded by the user
    * slice's history, so it broadcasts too and the anti-join never
    * shuffles the scored frame. The only shuffle is the per-user top-k
    * window, keyed on the bounded user set.
    *
    * This is exactly what `ALSModel.recommendForUserSubset` computes
    * (blocked factor dot products + per-user top-k), expressed as a
    * deterministic plan over explicit factor frames so the serving half
    * of the recommender is oracle-checkable even though training is
    * not (q45b vs q45). */
  def serveTopK(userFactors: DataFrame, itemFactors: DataFrame,
                seen: DataFrame, k: Int): DataFrame = {
    import graft.functions.Vectors
    val scored = itemFactors.crossJoin(broadcast(userFactors))
      .join(broadcast(seen), Seq("usr", "item"), "left_anti")
      .select(col("usr"), col("item"),
        Vectors.dot(col("fu"), col("fi")).cast("long").as("score"))
    val w = Window.partitionBy(col("usr"))
      .orderBy(col("score").desc, col("item"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("usr"), col("rnk"), col("item"), col("score"))
  }

  /** Reconstruction RMSE on the training interactions (sanity metric;
    * implicit ALS optimizes confidence-weighted preference, so this is
    * a smoke-level signal, not a tuned benchmark). */
  def rmse(model: ALSModel, ratings: DataFrame): Double =
    new RegressionEvaluator()
      .setMetricName("rmse").setLabelCol("rating")
      .setPredictionCol("prediction")
      .evaluate(model.transform(ratings).na.drop(Seq("prediction")))

  /** Item-item co-occurrence: for each item pair sharing a basket
    * (user/order), count shared baskets; recommend top-k co-items.
    * One self-join on the basket key with map-side pre-aggregation.
    * At 100 TB: cap basket size first (a power user in every basket
    * pair is the classic quadratic blowup — `maxBasket` bounds it). */
  def coOccurrence(baskets: DataFrame, basketCol: String, itemCol: String,
                   maxBasket: Int = 100): DataFrame = {
    val items = baskets.select(col(basketCol).as("b"), col(itemCol).as("i"))
      .distinct()
    val bounded = items
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy(col("b"))))
      .filter(col("__n") <= maxBasket)
      .drop("__n")
    pairCensus(bounded)
  }

  /** The co-occurrence pair census over an ALREADY distinct, already
    * breadth-bounded (b, i) frame — the self-join half of
    * [[coOccurrence]], factored out so [[boundedItems]] callers reuse
    * the one materialized projection instead of re-deriving it. */
  def pairCensus(items: DataFrame): DataFrame =
    items.as("x").join(items.as("y"),
        col("x.b") === col("y.b") && col("x.i") =!= col("y.i"))
      .groupBy(col("x.i").as("item"), col("y.i").as("co_item"))
      .agg(count(lit(1)).as("n_baskets"))

  /** The fused co-occurrence scaffold every graph/pair query should
    * ride: the distinct (basket, item) projection materialized EXACTLY
    * once as a basket-keyed pin (pinned for end-of-query release), the
    * cost cap derived from the rows-per-basket histogram that the
    * pin's own materializing job returns (no probe job over the pin;
    * see [[org.apache.spark.sql.graft.PartitionedCheckpoint.byKeyCensus]]),
    * and the breadth-cap window filter elided when the cap provably
    * keeps every basket (cap >= maxObs — the q219 no-op-filter
    * elision, hoisted here so all ~10 call sites get it).
    * Value-identical to the two-call shape `coOccurrence(li, maxBasket
    * = maxBasketFromHistogram(li, ...))` at every scale: same
    * distinct, same histogram, same threshold semantics when the cap
    * binds. The histogram has one entry per distinct basket SIZE, so
    * what the job returns to the driver stays a few hundred rows at
    * any scale. */
  def boundedItems(baskets: DataFrame, basketCol: String,
                   itemCol: String,
                   pairBudget: Long = 100000000L): DataFrame = {
    // checkpoint WITH declared basket-key partitioning + order: the
    // breadth window (partitionBy b) and BOTH sides of the pair
    // self-join (join on b) then plan with no exchange and no
    // re-sort (plain localCheckpoint loses the partitioning under
    // AQE; see PartitionedCheckpoint's scaladoc). The distinct is
    // FUSED into that keyed exchange: b-partitioning colocates every
    // copy of a (b, i) row, so the dedup runs partition-local.
    val (items, census) = basketPin(
      baskets.select(col(basketCol).as("b"), col(itemCol).as("i")), "b")
    capToBudget(items, "b", census, pairBudget)
  }

  /** The distinct (key, item) pin keyed on `key`, and its census. */
  def basketPin(pairs: DataFrame, key: String)
      : (DataFrame, PartitionedCheckpoint.KeyCensus) = {
    val (items, census) = PartitionedCheckpoint.byKeyCensus(
      pairs, Seq(key))(_.dropDuplicates())
    (graft.functions.Checkpoints.pin(items), census)
  }

  /** `items` with every `key` whose row count exceeds the budget cap
    * ([[capFromSizes]] over `census`) dropped — `items` itself when
    * the cap keeps every key. */
  def capToBudget(items: DataFrame, key: String,
                  census: PartitionedCheckpoint.KeyCensus,
                  pairBudget: Long = 100000000L): DataFrame = {
    val (cap, maxObs) = capFromSizes(census.sizes, pairBudget)
    if (cap >= maxObs) items
    else items
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy(col(key))))
      .filter(col("__n") <= cap)
      .drop("__n")
  }

  /** [[coOccurrence]] + [[maxBasketFromHistogram]] in ONE pass over
    * the fact table (see [[boundedItems]]). */
  def coOccurrenceAuto(baskets: DataFrame, basketCol: String,
                       itemCol: String,
                       pairBudget: Long = 100000000L): DataFrame =
    pairCensus(boundedItems(baskets, basketCol, itemCol, pairBudget))

  /** Cost-based basket cap, derived from the basket-size histogram
    * (exactly the q37 distribution — that query IS this cost model).
    * Returns the largest cap C such that the kept pair volume
    * `Σ_{n ≤ C} cnt(n) · n · (n−1)` stays within `pairBudget` — the
    * number of rows the co-occurrence self-join emits before its
    * groupBy. Baskets above the cap are the quadratic blowup the cap
    * exists to exclude (one power user in 10k baskets costs 10⁸ pairs
    * alone). When the whole histogram fits the budget the cap equals
    * the max observed size and nothing is dropped — so at test scale
    * co-occurrence stays oracle-exact while at 100 TB the same call
    * bounds the join.
    *
    * The histogram collect is bounded by the number of DISTINCT basket
    * sizes (not baskets), a few hundred rows at any scale. */
  def maxBasketFromHistogram(baskets: DataFrame, basketCol: String,
                             itemCol: String,
                             pairBudget: Long = 100000000L): Int =
    capAndMaxObserved(baskets, basketCol, itemCol, pairBudget)._1

  /** [[maxBasketFromHistogram]] plus the LARGEST OBSERVED basket size
    * from the same one-histogram walk. A caller that applies the cap
    * as a filter can elide the filter entirely when `cap >= maxObs` —
    * the budget admits the whole histogram, so the filter is a
    * provable no-op that would only add a per-key count pass
    * (measured ~2× the pair-stage cost on q219 at sf0.1) while
    * dropping nothing. At scale, where the histogram busts the
    * budget, `cap < maxObs` and the filter binds. */
  def capAndMaxObserved(baskets: DataFrame, basketCol: String,
                        itemCol: String,
                        pairBudget: Long = 100000000L): (Int, Long) =
    capFromDistinct(
      baskets.select(col(basketCol).as("b"), col(itemCol).as("i"))
        .distinct(),
      "b", pairBudget)

  /** [[capAndMaxObserved]] over a frame whose rows are ALREADY
    * distinct per (basket, item) — e.g. a checkpointed projection the
    * caller also feeds the pair pipeline. Skips the redundant
    * distinct exchange the raw-baskets entry point must pay (an
    * optimizer can't see through a checkpoint to prove distinctness).
    * The histogram (one row per distinct basket size) is sorted on
    * the driver: an `orderBy` would cost a range-partition sampling
    * job plus a shuffle for a few hundred rows. A basket-keyed pin
    * already carries this histogram — [[boundedItems]] reads it from
    * the pin's census instead of calling this. */
  def capFromDistinct(items: DataFrame, basketCol: String,
                      pairBudget: Long = 100000000L): (Int, Long) =
    capFromSizes(items
      .groupBy(col(basketCol)).agg(count(lit(1)).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      .toIndexedSeq, pairBudget)

  /** The cap walk over a basket-size histogram of (size, baskets)
    * rows in ascending size order: (cap, largest observed size). */
  def capFromSizes(hist: Seq[(Long, Long)],
                   pairBudget: Long = 100000000L): (Int, Long) = {
    // The cap is a THRESHOLD (every n <= cap is kept), so stop at the
    // first size that busts the budget — a later size that would fit
    // on its own cannot be admitted without readmitting this one.
    var cum = BigInt(0)
    var cap = 1L
    var stop = false
    hist.foreach { case (n, cnt) =>
      if (!stop) {
        // BigInt: cnt·n·(n−1) overflows Long exactly when the blowup
        // is worst (n ~ 10⁶, cnt ~ 10⁸ wraps negative and would ADMIT
        // the size the cap exists to exclude); this loop is a
        // driver-side walk over a few hundred histogram rows, so
        // arbitrary precision costs nothing
        val pairs = BigInt(cnt) * BigInt(n) * BigInt(n - 1)
        if (cum + pairs <= BigInt(pairBudget)) {
          cum += pairs; cap = math.max(cap, n)
        } else stop = true
      }
    }
    val maxObs = if (hist.isEmpty) 0L else hist.last._1
    (math.min(cap, Int.MaxValue).toInt, maxObs)
  }

  /** Top-k co-items per item with deterministic tie-break
    * (n_baskets desc, co_item). Output is `(item, co_item, n_baskets,
    * rnk)` — `rnk` (1-based int rank within the item) is part of the
    * contract, not a leaked scratch column. Integral item ids take
    * the sort-free bounded aggregate ([[graft.functions.TopK]]); any
    * other id type (string SKUs) ranks through the equivalent
    * row_number window. */
  def topCoItems(co: DataFrame, k: Int): DataFrame = {
    val idType = co.schema("co_item").dataType
    idType match {
      case ByteType | ShortType | IntegerType | LongType =>
        graft.functions.TopK.perGroup(co, Seq(col("item")),
            col("n_baskets"), col("co_item"), k)
          .select(col("item"), col("id").cast(idType).as("co_item"),
            col("ord").as("n_baskets"), col("rnk").cast("int").as("rnk"))
      case _ =>
        val w = Window.partitionBy(col("item"))
          .orderBy(col("n_baskets").desc, col("co_item"))
        co.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
    }
  }
}
