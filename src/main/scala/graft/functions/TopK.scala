package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.BoundedTopK

/** Exact top-k per group as ONE hash aggregate
  * ([[org.apache.spark.sql.graft.BoundedTopK]]): each group's state is
  * `k` fixed-width slots, so the plan is a partial + final
  * `HashAggregate` whose exchange carries at most `k` rows per group
  * per partition, with no sort anywhere.
  *
  * Against the `row_number() OVER (...) <= k` idiom: Spark 4's
  * `InferWindowGroupLimit` bounds that plan's exchange with a map-side
  * `WindowGroupLimit` when the rank filter sits on the window, but the
  * window still SORTS every input row by (group, order) on both sides
  * of the exchange — on q219's 1.9M exploded pairs that sort was most
  * of the stage's task time. TopKSpec measures the two forms' exchange
  * bytes and checks the aggregate is sort-free. The aggregate form
  * also composes with sibling aggregates in one aggregation pass, and
  * its bound does not depend on the optimizer recognizing an adjacent
  * filter. Window functions do not run on streams at all; the
  * streaming form ([[graft.streaming.Features.runningTopK]]) keeps the
  * same order in a [[TopKBuf]] per group in the state store.
  *
  * Same mergeable-summary contract as the sketch family
  * ([[Freq]]/[[Quant]]/[[Theta]]), but EXACT at any size: top-k under
  * a total order is computable from per-partial top-k's.
  *
  * Determinism: the order is the (ord, id) pair — ties on `ord` break
  * to the smaller id, and `id` is expected unique per group (the
  * caller's key contract, same as every pinned-order query in this
  * repo) — so results are partitioning-independent and
  * oracle-comparable bit-for-bit. */
object TopK {

  /** Bounded JVM-side buffer, the state of the streaming top-k
    * ([[graft.streaming.Features.runningTopK]]): the best `k`
    * (key, id) pairs in ascending lexicographic order, where callers
    * pre-map "best" onto SMALLEST key. Insert is O(log k); the worst
    * element is evicted on overflow.
    *
    * Serialization is hand-rolled as `k` + 2 longs per entry (the
    * [[Theta.ThetaBuf]] treatment): the state store writes the buffer
    * once per group per micro-batch, and default Java serialization
    * of a TreeSet of boxed tuples is ~1.5 KB for k=3 — 15× the
    * payload. */
  final class TopKBuf(private var k0: Int) extends Serializable {
    require(k0 >= 1, s"k must be >= 1, got $k0")
    def k: Int = k0
    @transient var set: mutable.TreeSet[(Long, Long)] =
      mutable.TreeSet.empty
    def insert(x: (Long, Long)): Unit = {
      set += x
      if (set.size > k0) set -= set.last
    }
    def mergeIn(o: TopKBuf): Unit = o.set.foreach(insert)
    @throws[java.io.IOException]
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.writeInt(k0)
      out.writeInt(set.size)
      set.foreach { case (a, b) => out.writeLong(a); out.writeLong(b) }
    }
    @throws[java.io.IOException]
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      k0 = in.readInt()
      val n = in.readInt()
      set = mutable.TreeSet.empty
      var i = 0
      while (i < n) { set += ((in.readLong(), in.readLong())); i += 1 }
    }
  }

  /** Top `k` rows per group by `ord` (long; `largest=false` for
    * bottom-k, which with a hash-priority `ord` is a deterministic
    * per-group reservoir sample). Output: (group columns..., `rnk`
    * 1-based, `id`, `ord`, payload columns...), unordered across
    * groups; each payload column keeps its name and type and comes
    * from the same input row as its `id`. Null ord/id rows are
    * dropped (TRY_CAST, the [[Freq]] treatment). Payload columns must
    * be fixed-width (numeric, boolean, date, timestamp). */
  def perGroup(df: DataFrame, group: Seq[Column], ord: Column,
               id: Column, k: Int, largest: Boolean = true,
               payload: Seq[String] = Nil): DataFrame = {
    payload.foreach { p =>
      val t = df.schema(p).dataType
      require(BoundedTopK.payloadTypeOk(t),
        s"TopK.perGroup: payload column $p has type $t, not fixed-width")
    }
    val agged = df.groupBy(group: _*)
      .agg(BoundedTopK(ord.try_cast("long"), id.try_cast("long"),
        payload.map(df.col), k, largest).as("__top"))
    val groupNames = agged.columns.dropRight(1).toSeq.map(col)
    agged
      .select(groupNames :+ posexplode(col("__top")).as(Seq("__p", "__r")): _*)
      .select(groupNames ++ ((col("__p") + 1).cast("long").as("rnk")
        +: col("__r.id").as("id") +: col("__r.ord").as("ord")
        +: payload.indices.map(j => col(s"__r.p$j").as(payload(j)))): _*)
  }
}
