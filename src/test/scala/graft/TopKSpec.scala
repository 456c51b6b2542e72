package graft

import org.apache.spark.sql.functions._

import graft.functions.TopK
import graft.functions.TopK.TopKBuf

/** Bounded top-k: the native hash aggregate equals the row_number
  * reference under any partitioning (ties, nulls, small groups, empty
  * and global inputs, payload columns), runs with no sort, bottom-k
  * mode as the hash-priority reservoir, garbage-input tolerance; and
  * the streaming buffer's algebra. */
class TopKSpec extends SparkSpec {

  import spark.implicits._

  test("buffer keeps the k best and evicts deterministically") {
    val b = new TopKBuf(3)
    Seq((5L, 1L), (1L, 2L), (3L, 3L), (1L, 1L), (9L, 9L))
      .foreach(b.insert)
    // ascending (key, id): (1,1) (1,2) (3,3) survive; (5,1) (9,9) out
    assert(b.set.toSeq == Seq((1L, 1L), (1L, 2L), (3L, 3L)))
  }

  test("merge-tree independence: split buffers equal one flat buffer") {
    val xs = (0 until 500).map(i =>
      (((i * 2654435761L) % 101), i.toLong))
    val flat = new TopKBuf(7); xs.foreach(flat.insert)
    val parts = xs.grouped(13).map { chunk =>
      val p = new TopKBuf(7); chunk.foreach(p.insert); p
    }.toSeq
    val merged = parts.reduce { (a, b) => a.mergeIn(b); a }
    assert(merged.set.toSeq == flat.set.toSeq)
  }

  test("perGroup top-k matches a window over any partitioning") {
    val df = (1 to 200).map(i =>
      (s"g${i % 3}", (i * 37 % 50).toLong, i.toLong))
      .toDF("g", "v", "id").repartition(7)
    val got = TopK.perGroup(df, Seq(col("g")), col("v"), col("id"), 4)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("v").desc, col("id"))
    val want = df.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 4)
      .select("g", "rnk", "id", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    assert(got.toSeq == want.toSeq)
  }

  test("bottom-k with a hash priority is a deterministic reservoir") {
    val df = (1 to 100).map(i => ("s", i.toLong)).toDF("g", "id")
      .withColumn("pri", graft.curation.Curation.contentU32(col("id")))
    val a = TopK.perGroup(df.repartition(2), Seq(col("g")), col("pri"),
      col("id"), 5, largest = false).select("id").as[Long].collect().toSet
    val b = TopK.perGroup(df.repartition(11), Seq(col("g")), col("pri"),
      col("id"), 5, largest = false).select("id").as[Long].collect().toSet
    assert(a == b && a.size == 5)
  }

  test("shuffle bytes measured: agg ≈ inferred-window-limit ≪ naive window") {
    // The three-way measurement behind TopK's positioning (200k rows,
    // 4 groups, 8 partitions; AQE off so the executed plans are plain
    // trees with readable exchange metrics):
    //  - naive window (InferWindowGroupLimit excluded): EVERY row
    //    crosses the group exchange;
    //  - Spark 4's InferWindowGroupLimit: the adjacent
    //    `filter(rnk <= k)` becomes a map-side WindowGroupLimit, so
    //    the exchange carries k rows per group per partition — but
    //    both sides of it still SORT every row by (group, order);
    //  - the TopK hash aggregate: the same bounded exchange (k
    //    fixed-width slots per group per partition) and no sort at
    //    all, which is what it exists for.
    val aqe = "spark.sql.adaptive.enabled"
    val excl = "spark.sql.optimizer.excludedRules"
    val prevAqe = spark.conf.get(aqe)
    val prevExcl = spark.conf.getOption(excl)
    spark.conf.set(aqe, "false")
    try {
      def base = spark.range(0, 200000, 1, 8).toDF("id")
        .select(concat(lit("g"), (col("id") % 4).cast("string")).as("g"),
          ((col("id") * 2654435761L) % 1000003L).as("v"), col("id"))
      // ONE collect per frame: SQLMetrics zero on re-execution while
      // the materialized shuffle is REUSED, so a second collect reads
      // dataSize=0 — measure and take rows from the same (first) run
      def runOnce(df: org.apache.spark.sql.DataFrame)
          : (Long, Seq[(String, Long, Long, Long)], String) = {
        import org.apache.spark.sql.execution.SparkPlan
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        val rows = df.collect().map(r => (r.getString(0), r.getLong(1),
          r.getLong(2), r.getLong(3))).sorted.toSeq
        def walk(p: SparkPlan): Long = p match {
          case s: ShuffleExchangeExec =>
            s.metrics("dataSize").value + s.children.map(walk).sum
          case other => other.children.map(walk).sum
        }
        val plan = df.queryExecution.executedPlan
        val got = walk(plan)
        assert(got > 0, "no shuffle metrics found — traversal broken?")
        (got, rows, plan.toString)
      }
      def winForm = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("g")).orderBy(col("v").desc, col("id"))
        base.withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 3).select("g", "rnk", "id", "v")
      }
      val (a, rowsA, planA) = runOnce(TopK.perGroup(base, Seq(col("g")),
        col("v"), col("id"), 3))
      val (b, rowsB, planB) = runOnce(winForm)
      spark.conf.set(excl,
        "org.apache.spark.sql.catalyst.optimizer.InferWindowGroupLimit")
      val (c, rowsC, _) = runOnce(winForm)
      assert(rowsA == rowsB && rowsB == rowsC) // identical answers
      info(f"agg=$a%d B, inferred-window=$b%d B, naive-window=$c%d B " +
        f"(naive/agg = ${c.toDouble / a}%.0fx)")
      assert(a < c / 100, s"agg $a not ≪ naive $c")
      assert(b < c / 100, s"inferred $b not ≪ naive $c")
      assert(a < 4 * b, s"agg $a not within 4x of inferred $b")
      // the aggregate is sort-free; the inferred window is not
      assert(planA.contains("HashAggregate"), planA)
      Seq("Sort", "ObjectHashAggregate", "SortAggregate", "Window")
        .foreach(op => assert(!planA.contains(op), planA))
      assert(planB.contains("Sort") && planB.contains("WindowGroupLimit"),
        planB)
    } finally {
      spark.conf.set(aqe, prevAqe)
      prevExcl match {
        case Some(v) => spark.conf.set(excl, v)
        case None => spark.conf.unset(excl)
      }
    }
  }

  test("native top-k equals the row_number reference (ties, nulls, " +
    "small groups, empty, global; payload rides its own row)") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    type Out = (Option[Int], Long, Long, Long, Long, Option[Double])
    def rows(df: DataFrame): Seq[Out] = df.collect().map(r => (
      Option(r.get(0)).map(_.asInstanceOf[Int]), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), Option(r.get(5)).map(_.asInstanceOf[Double])))
      .toSeq.sortBy(t => (t._1.getOrElse(Int.MinValue), t._2))
    // (g, ord, id, p, q): ord drawn from a small range (ties), ~10% null
    // ord and ~5% null id; ids unique; p a payload unique per row and
    // q a nullable double payload
    def frame(seed: Int, n: Int, groups: Int): DataFrame = {
      val rnd = new scala.util.Random(seed)
      spark.createDataFrame((0 until n).map { i =>
        (if (rnd.nextInt(20) == 0) None else Some(rnd.nextInt(groups)),
          if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(7).toLong - 3),
          if (rnd.nextInt(20) == 0) None else Some(i.toLong),
          i * 1000L + seed,
          if (rnd.nextInt(4) == 0) None else Some(rnd.nextDouble()))
      }).toDF("g", "ord", "id", "p", "q")
    }
    def reference(df: DataFrame, grouped: Boolean, k: Int,
                  largest: Boolean): DataFrame = {
      val o = if (largest) col("ord").desc else col("ord").asc
      val w = if (grouped) Window.partitionBy(col("g")).orderBy(o, col("id"))
        else Window.orderBy(o, col("id"))
      df.filter(col("ord").isNotNull && col("id").isNotNull)
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= k)
        .select(if (grouped) col("g") else lit(null).cast("int").as("g"),
          col("rnk"), col("id"), col("ord"), col("p"), col("q"))
    }
    def native(df: DataFrame, grouped: Boolean, k: Int,
               largest: Boolean): DataFrame =
      TopK.perGroup(df, if (grouped) Seq(col("g")) else Nil, col("ord"),
          col("id"), k, largest, payload = Seq("p", "q"))
        .select(if (grouped) col("g") else lit(null).cast("int").as("g"),
          col("rnk"), col("id"), col("ord"), col("p"), col("q"))
    val cases = Seq(
      ("ties + nulls", frame(1, 400, 5), true, 4),
      ("groups smaller than k", frame(2, 120, 50), true, 5),
      ("k = 1", frame(3, 300, 7), true, 1),
      ("empty", frame(4, 50, 3).limit(0), true, 3),
      ("global", frame(5, 300, 4), false, 6),
      ("global empty", frame(6, 10, 2).limit(0), false, 2))
    for ((label, df, grouped, k) <- cases; largest <- Seq(true, false)) {
      val want = rows(reference(df, grouped, k, largest))
      Seq(1, 11).foreach { parts =>
        val got = rows(native(df.repartition(parts), grouped, k, largest))
        assert(got == want, s"$label, largest=$largest, $parts partitions")
      }
    }
  }

  test("null/garbage ord or id rows are dropped, not crashed on") {
    val df = Seq(("g", "10", 1L), ("g", "junk", 2L), ("g", null, 3L),
      ("g", "7", 4L)).toDF("g", "v", "id")
    val got = TopK.perGroup(df, Seq(col("g")), col("v"), col("id"), 10)
      .select("id").as[Long].collect().toSet
    assert(got == Set(1L, 4L))
  }
}
