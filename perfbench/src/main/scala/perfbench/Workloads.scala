package perfbench

import graft.aggs.ReduceOptions
import graft.api.{Dispatch, GlobalScan, GroupByReduce, GroupByScan, Layout}
import graft.keys.{Binning, ExpectedGroups}
import graft.ops.Dedup
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one API call produced. `df` is written to the noop sink in the
  * execution phase, with `digest` attached as observed metrics: the
  * digest aggregates accumulate while the result streams into the sink,
  * so the output is checked without running the call twice. `action` is
  * an eager call's own work (a table write), run in that phase instead.
  * `after` reads anything else to check once the call has returned.
  * Both take a flag asking for a deliberately perturbed output. */
final case class Built(df: Option[DataFrame] = None,
                       action: () => Unit = () => (),
                       digest: Boolean => Seq[Column] = _ => Nil,
                       after: Boolean => Map[String, Any] = _ => Map.empty)

/** One call of a workload's cycle: its name, the API family it
  * exercises, the input rows it consumes and the call itself (the
  * construction phase). */
final case class Call(name: String, family: String, rows: Long,
                      build: () => Built)

/** Output digests — order-independent, so they compare against the
  * same digests DuckDB or a closed form gives for the expected answer. */
object Checks {

  /** Row weight from integer key columns:
    * 1 + (k0 + 31 k1 + 961 k2 ...) mod 97. Keys are non-negative. */
  def weight(keys: Seq[String]): Column =
    if (keys.isEmpty) lit(1L)
    else {
      val h = keys.zipWithIndex.map { case (k, i) =>
        col(k).cast("long") * lit(math.pow(31, i).toLong)
      }.reduce(_ + _)
      pmod(h, lit(97L)) + lit(1L)
    }

  /** Row count `n`, and per value column its valid (non-null, non-NaN)
    * count, sum and key-weighted sum. A perturbed output adds 1 to the
    * first value column on rows of weight 1. */
  def sums(keys: Seq[String], values: Seq[String])(
      perturb: Boolean): Seq[Column] = {
    val w = weight(keys)
    count(lit(1)).as("n") +: values.zipWithIndex.flatMap { case (v, i) =>
      val x0 = col(v).cast("double")
      val x = if (perturb && i == 0) when(w === 1, x0 + 1.0).otherwise(x0) else x0
      val ok = x.isNotNull && !isnan(x)
      Seq(count(when(ok, lit(1))).as(s"$v.valid"),
        sum(when(ok, x)).as(s"$v.sum"), sum(when(ok, x * w)).as(s"$v.wsum"))
    }
  }

  def frame(df: DataFrame, keys: Seq[String], values: Seq[String]): Built =
    Built(Some(df), digest = sums(keys, values))
}

/** The workloads: their inputs (parquet written by run.py) and the
  * calls of one cycle. `reduce_grid` is hash aggregation with no
  * construction-time work; `scan_dedup` is order-dependent, holistic
  * and iterative calls whose construction runs Spark jobs. */
object Workloads {
  val names: Seq[String] = Seq("reduce_grid", "scan_dedup")

  /** Parquet inputs, loaded once per session. */
  def inputs(spark: SparkSession, workload: String,
             data: String): Map[String, DataFrame] = {
    val files = workload match {
      case "reduce_grid" => Seq("grid_random", "grid_sorted")
      case "scan_dedup"  => Seq("scan", "corpus", "batch")
    }
    files.map(f => f -> spark.read.parquet(s"$data/$f.parquet")).toMap
  }

  def calls(spark: SparkSession, workload: String,
            in: Map[String, DataFrame], rows: Map[String, Long],
            traced: Boolean): Seq[Call] = workload match {
    case "reduce_grid" => reduceGrid(spark, in, rows)
    case "scan_dedup"  =>
      scanQuantile(in, rows) ++ dedupCorpus(spark, in, rows, traced)
  }

  // ---------------------------------------------------------------- reduce

  private val momentFuncs = Seq(("v", "nansum", "s"), ("v", "nanmean", "m"),
    ("v", "nanvar", "var"), ("v", "nanmax", "mx"), ("v", "count", "n"),
    ("v", "nanargmax", "am"))

  /** Interval breaks of the binned call: 14 bins over [-20, 120], of
    * which the data in [0, 100) fills 10 — four stay empty and take the
    * fill value. */
  val breaks: Seq[Double] = (-20 to 120 by 10).map(_.toDouble)

  private def reduceGrid(spark: SparkSession, in: Map[String, DataFrame],
                         rows: Map[String, Long]): Seq[Call] = {
    val random = in("grid_random")
    val sorted = in("grid_sorted")
    val n = rows("grid_random")
    val idx = ReduceOptions(idxCol = Some("idx"))
    def reduce(name: String, df: DataFrame, by: Seq[String],
               reds: Seq[(String, String, String)]): Call =
      Call(name, "graft.api.GroupByReduce", n, () => Checks.frame(
        GroupByReduce.multi(df, by, reds, idx), by, reds.map(_._3)))
    val fill = Some(lit(-1.0))
    Seq(
      reduce("k5", random, Seq("k5"), momentFuncs),
      reduce("month_hour", random, Seq("month", "hour"), momentFuncs),
      reduce("k5000_random", random, Seq("k5000"), momentFuncs),
      reduce("k5000_sorted", sorted, Seq("k5000"), momentFuncs),
      reduce("high_card", random, Seq("khc"),
        Seq(("v", "nansum", "s"), ("v", "nanmean", "m"), ("v", "count", "n"))),
      reduce("zipf", random, Seq("kzipf"),
        Seq(("v", "nansum", "s"), ("v", "nanmax", "mx"), ("v", "count", "n"))),
      Call("binned_breaks", "graft.keys.binned", n, () => {
        val reds = Seq(("v", "nansum", "s"), ("v", "nanmean", "m"),
          ("v", "count", "n"))
        val out = GroupByReduce.multi(
          random.withColumn("bin", Binning.binIndex(col("x"), breaks)),
          Seq("bin"), reds,
          ReduceOptions(expectedGroups =
            Some(ExpectedGroups.fromBreaks(spark, breaks)), fillValue = fill))
        Checks.frame(out, Seq("bin"), reds.map(_._3))
      }),
      Call("binned_uniform", "graft.keys.binned", n, () => {
        val reds = Seq(("v", "nanmax", "mx"), ("v", "count", "n"))
        val out = GroupByReduce.multi(
          random.withColumn("ubin", Binning.uniform(col("x"), 0.0, 100.0, 50)),
          Seq("ubin"), reds,
          ReduceOptions(expectedGroups =
            Some(ExpectedGroups.of(spark, "ubin", 0 until 60)),
            fillValue = fill))
        Checks.frame(out, Seq("ubin"), reds.map(_._3))
      }))
  }

  // ---------------------------------------------------------- scan/quantile

  private def scanQuantile(in: Map[String, DataFrame],
                           rows: Map[String, Long]): Seq[Call] = {
    val df = in("scan")
    val n = rows("scan")
    def perRow(out: DataFrame) = Checks.frame(out, Seq("idx"), Seq("r"))
    def perGroup(out: DataFrame, by: String) =
      Checks.frame(out, Seq(by), Seq("r"))
    Seq(
      Call("window_nancumsum", "graft.api.GroupByScan", n, () =>
        perRow(GroupByScan(df, Seq("g"), "v", "nancumsum", "idx", "r"))),
      Call("window_ffill", "graft.api.GroupByScan", n, () =>
        perRow(GroupByScan(df, Seq("g"), "vn", "ffill", "idx", "r"))),
      Call("carry_ffill", "graft.api.GlobalScan", n, () =>
        perRow(GlobalScan.groupedFfill(df, Seq("mega"), Seq(col("idx")),
          "vn", "r"))),
      Call("carry_prefix_sum", "graft.api.GlobalScan", n, () =>
        perRow(GlobalScan.groupedPrefixSum(df, Seq("mega"), Seq(col("idx")),
          col("vi"), "r"))),
      Call("buffered_nanquantile", "graft.api.GroupByReduce.quantile", n, () =>
        perGroup(GroupByReduce(df, Seq("mh"), "v", "nanquantile", "r",
          ReduceOptions(q = Seq(0.9))), "mh")),
      Call("distributed_quantile", "graft.api.GroupByReduce.quantileDistributed",
        n, () => perGroup(GroupByReduce.quantileDistributed(df, Seq("mega"),
          "vn", Seq(0.5), "r"), "mega")),
      Call("auto_quantile", "graft.api.Dispatch.quantileAuto", n, () =>
        perGroup(Dispatch.quantileAuto(df, Seq("mh"), "vn", Seq(0.25), "r"),
          "mh")),
      Call("key_stats", "graft.api.Dispatch.keyStats", n, () => {
        val st = Dispatch.keyStats(df, Seq("mega"))
        Built(after = perturb => Map("kind" -> "stats",
          "values" -> Map("rows" -> (st.rows + (if (perturb) 1 else 0)),
            "groups" -> st.groupsEst, "max_group_rows" -> st.maxGroupRowsEst)))
      }))
  }

  // ------------------------------------------------------------------ dedup

  val indexTable = "perfbench_band_index"

  private def dedupCorpus(spark: SparkSession, in: Map[String, DataFrame],
                          rows: Map[String, Long],
                          traced: Boolean): Seq[Call] = {
    val corpus = in("corpus")
    val batch = in("batch")
    val n = rows("corpus")
    val main = Seq(
      Call("drop_near_dups", "graft.ops.Dedup.dropNearDups", n, () =>
        Checks.frame(Dedup.dropNearDups(corpus, "text", "doc_id"),
          Seq("doc_id"), Seq("doc_id"))),
      Call("write_band_index", "graft.ops.Dedup.writeBandIndex", n, () =>
        Built(
          action = () =>
            Dedup.writeBandIndex(corpus, "text", "doc_id", indexTable, 8),
          after = perturb => {
            val ix = Layout.table(spark, indexTable)
            val r = ix.agg(count(lit(1)), countDistinct(col("id"))).head()
            Map("kind" -> "stats", "values" -> Map(
              "rows" -> (r.getLong(0) + (if (perturb) 1 else 0)),
              "ids" -> r.getLong(1)))
          })),
      Call("probe_index", "graft.ops.Dedup.dropNearDupsAgainstIndex",
        rows("batch") + n, () =>
          Checks.frame(Dedup.dropNearDupsAgainstIndex(batch, corpus,
            Layout.table(spark, indexTable), "text", "doc_id", "doc_id"),
            Seq("doc_id"), Seq("doc_id"))))
    // Prefix calls of dropNearDups, traced only: their differences give
    // the self times of signature, pair verification and components.
    val prefixes = Seq(
      Call("signature", "graft.ops.Dedup.withMinhashSignature", n, () =>
        Checks.frame(Dedup.withMinhashSignature(corpus, "text"),
          Nil, Seq("doc_id"))),
      Call("pairs", "graft.ops.Dedup.nearDupPairs", n, () => {
        val p = Dedup.nearDupPairs(corpus, "text", "doc_id")
        Built(Some(p), after = perturb => {
          val xs = p.collect().map(r => Seq(r.getLong(0), r.getLong(1),
            r.getDouble(2))).sortBy(s => (s(0).asInstanceOf[Long],
            s(1).asInstanceOf[Long]))
          Map("kind" -> "pairs", "pairs" ->
            (if (perturb) xs.map(s => Seq(s(0), s(1), 1.0)) else xs).toSeq)
        })
      }),
      Call("groups", "graft.ops.Dedup.nearDupGroups", n, () =>
        Checks.frame(Dedup.nearDupGroups(corpus, "text", "doc_id"),
          Seq("doc_id"), Seq("keep_id"))))
    if (traced) main ++ prefixes else main
  }

  /** LSH candidate pairs of the corpus — the attempts behind the
    * verified pairs (traced run only, untimed). */
  def lshCandidates(in: Map[String, DataFrame]): Long =
    Dedup.lshCandidates(in("corpus"), "text", "doc_id").count()
}
