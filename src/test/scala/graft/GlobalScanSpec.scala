package graft

import graft.api.GlobalScan
import graft.ops.{Packing, Selection, TextAnalysis}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed global/grouped prefix scans vs the single-partition
  * window formulations they replace (equal results, scale-safe plan). */
class GlobalScanSpec extends SparkTestBase {
  import spark.implicits._

  // ids deliberately unsorted so the range exchange has real work to do
  private def rows = (0 until 997).map(i => ((i * 7919) % 997, (i % 13).toLong))

  test("prefixSum equals global window cumsum") {
    val df = rows.toDF("id", "v")
    val got = GlobalScan.prefixSum(df, Seq(col("id")), col("v"), "cum")
      .orderBy("id").select("id", "cum").as[(Int, Long)].collect()
    val want = df.withColumn("cum", sum("v").over(
        Window.orderBy("id").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("id").select("id", "cum").as[(Int, Long)].collect()
    assert(got === want)
  }

  test("prefixSum treats null values as 0 and keeps other columns") {
    val df = Seq((1, Some(5L), "a"), (2, None, "b"), (3, Some(2L), "c"))
      .toDF("id", "v", "tag")
    val got = GlobalScan.prefixSum(df, Seq(col("id")), col("v"), "cum")
      .orderBy("id").select("tag", "cum").as[(String, Long)].collect()
    assert(got === Array(("a", 5L), ("b", 5L), ("c", 7L)))
  }

  test("rowNumber equals global window row_number (desc order + tiebreak)") {
    val df = rows.toDF("id", "v")
    val got = GlobalScan.rowNumber(df, Seq(col("v").desc, col("id").asc), "rn")
      .orderBy("id").select("id", "rn").as[(Int, Long)].collect()
    val want = df.withColumn("rn",
        row_number().over(Window.orderBy(col("v").desc, col("id").asc)).cast("long"))
      .orderBy("id").select("id", "rn").as[(Int, Long)].collect()
    assert(got === want)
  }

  test("groupedRowNumber equals per-group window row_number with a giant group") {
    // group "big" spans every range partition; "mid" crosses one
    // boundary; singletons sit inside partitions — all chain cases
    val data = (0 until 800).map(i => ("big", (i * 7919) % 997)) ++
      (0 until 150).map(i => ("mid", i)) ++
      Seq(("x1", 0), ("x2", 0), ("x3", 0))
    val df = data.toDF("g", "id")
    val got = GlobalScan.groupedRowNumber(df, Seq("g"), Seq(col("id")), "rn")
      .orderBy("g", "id").select("g", "rn").as[(String, Long)].collect()
    val want = df.withColumn("rn",
        row_number().over(Window.partitionBy("g").orderBy("id")).cast("long"))
      .orderBy("g", "id").select("g", "rn").as[(String, Long)].collect()
    assert(got === want)
  }

  test("groupedRowNumber property law: random strata x partition counts " +
    "equal the window oracle (boundary-offset bookkeeping)") {
    // The boundary-offset chain (GlobalScan.scala:152-162) is the
    // subtlest hand-written code in the repo; one giant-group shape
    // (test above) does not pin it. Adversarial partitionings here:
    // strata spanning 3+ range partitions, strata entirely inside one,
    // empty strata, single-row partitions, and more partitions than
    // rows (empty partitions). Fixed-seed scalacheck sampling, like
    // PropertySpec (no scalatest bridge in the offline dep set).
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val genCase: Gen[(List[Int], Int)] = for {
      nGroups <- Gen.choose(1, 5)
      sizes <- Gen.listOfN(nGroups, Gen.frequency(
        3 -> Gen.choose(0, 4),     // absent / singleton strata
        2 -> Gen.choose(5, 40),    // boundary-crossing strata
        1 -> Gen.choose(60, 120))) // giant strata spanning 3+ partitions
      parts <- Gen.oneOf(1, 2, 3, 5, 8)
    } yield (sizes, parts)
    val cases = (0 until 12).flatMap(i =>
      genCase.apply(Gen.Parameters.default, Seed(4242L + i)))
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    try cases.foreach { case (sizes, parts) =>
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      // deterministic shuffle of input row order: the range exchange
      // must do real reordering work
      val data = sizes.zipWithIndex.flatMap { case (s, g) =>
        (0 until s).map(i => (s"g$g", i))
      }.sortBy { case (g, i) => (i * 7919 + g.hashCode) % 1009 }
      if (data.nonEmpty) {
        val df = data.toDF("g", "id").repartition(4)
        val got = GlobalScan.groupedRowNumber(df, Seq("g"), Seq(col("id")), "rn")
          .orderBy("g", "id").select("g", "id", "rn")
          .as[(String, Int, Long)].collect()
        val want = df.withColumn("rn",
            row_number().over(Window.partitionBy("g").orderBy("id")).cast("long"))
          .orderBy("g", "id").select("g", "id", "rn")
          .as[(String, Int, Long)].collect()
        assert(got === want,
          s"sizes=$sizes shufflePartitions=$parts")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  test("groupedPrefixSum property law: random values x partition counts " +
    "equal the window oracle (incl. zero and negative values)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val genCase: Gen[(List[List[Int]], Int)] = for {
      nGroups <- Gen.choose(1, 5)
      sizes <- Gen.listOfN(nGroups, Gen.frequency(
        3 -> Gen.choose(0, 4),
        2 -> Gen.choose(5, 40),
        1 -> Gen.choose(60, 120)))
      values <- Gen.sequence[List[List[Int]], List[Int]](
        sizes.map(s => Gen.listOfN(s, Gen.choose(-5, 20))))
      parts <- Gen.oneOf(1, 2, 3, 5, 8)
    } yield (values, parts)
    val cases = (0 until 10).flatMap(i =>
      genCase.apply(Gen.Parameters.default, Seed(7373L + i)))
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    try cases.foreach { case (values, parts) =>
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      val data = values.zipWithIndex.flatMap { case (vs, g) =>
        vs.zipWithIndex.map { case (v, i) => (s"g$g", i, v) }
      }.sortBy { case (g, i, _) => (i * 7919 + g.hashCode) % 1009 }
      if (data.nonEmpty) {
        val df = data.toDF("g", "id", "v").repartition(4)
        val got = GlobalScan.groupedPrefixSum(df, Seq("g"), Seq(col("id")),
            col("v"), "ps")
          .orderBy("g", "id").select("g", "id", "ps")
          .as[(String, Int, Long)].collect()
        val want = df.withColumn("ps",
            sum(col("v").cast("long"))
              .over(Window.partitionBy("g").orderBy("id")))
          .orderBy("g", "id").select("g", "id", "ps")
          .as[(String, Int, Long)].collect()
        assert(got === want, s"shufflePartitions=$parts")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  test("groupedFfill property law: random null patterns x partition " +
    "counts equal the window ffill oracle (incl. NaN-as-value, " +
    "all-null groups, leading nulls)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val genCase: Gen[(List[List[Option[Double]]], Int)] = for {
      nGroups <- Gen.choose(1, 5)
      sizes <- Gen.listOfN(nGroups, Gen.frequency(
        3 -> Gen.choose(0, 4),
        2 -> Gen.choose(5, 40),
        1 -> Gen.choose(60, 120)))
      values <- Gen.sequence[List[List[Option[Double]]], List[Option[Double]]](
        sizes.map(s => Gen.listOfN(s, Gen.frequency(
          4 -> Gen.choose(-50, 50).map(v => Some(v.toDouble)),
          1 -> Gen.const(Some(Double.NaN)),
          3 -> Gen.const(None)))))
      parts <- Gen.oneOf(1, 2, 3, 5, 8)
    } yield (values, parts)
    val cases = (0 until 10).flatMap(i =>
      genCase.apply(Gen.Parameters.default, Seed(6161L + i)))
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    def norm(d: Any): Any = d match {
      case x: Double if x.isNaN => "NaN"
      case x => x
    }
    try cases.foreach { case (values, parts) =>
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      val data = values.zipWithIndex.flatMap { case (vs, g) =>
        vs.zipWithIndex.map { case (v, i) => (s"g$g", i, v) }
      }.sortBy { case (g, i, _) => (i * 7919 + g.hashCode) % 1009 }
      if (data.nonEmpty) {
        val df = data.toDF("g", "id", "v").repartition(4)
        val got = GlobalScan.groupedFfill(df, Seq("g"), Seq(col("id")),
            "v", "f")
          .orderBy("g", "id").select("g", "id", "f")
          .collect().map(r => (r.getString(0), r.getInt(1), norm(r.get(2))))
        val want = df.withColumn("f",
            last(col("v"), ignoreNulls = true)
              .over(Window.partitionBy("g").orderBy("id")))
          .orderBy("g", "id").select("g", "id", "f")
          .collect().map(r => (r.getString(0), r.getInt(1), norm(r.get(2))))
        assert(got === want, s"shufflePartitions=$parts")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  test("groupedBfill property law: random null patterns x partition " +
    "counts equal the window bfill oracle and the reverse-ffill " +
    "duality (incl. NaN-as-value, all-null groups, trailing nulls)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val genCase: Gen[(List[List[Option[Double]]], Int)] = for {
      nGroups <- Gen.choose(1, 5)
      sizes <- Gen.listOfN(nGroups, Gen.frequency(
        3 -> Gen.choose(0, 4),
        2 -> Gen.choose(5, 40),
        1 -> Gen.choose(60, 120)))
      values <- Gen.sequence[List[List[Option[Double]]], List[Option[Double]]](
        sizes.map(s => Gen.listOfN(s, Gen.frequency(
          4 -> Gen.choose(-50, 50).map(v => Some(v.toDouble)),
          1 -> Gen.const(Some(Double.NaN)),
          3 -> Gen.const(None)))))
      parts <- Gen.oneOf(1, 2, 3, 5, 8)
    } yield (values, parts)
    val cases = (0 until 10).flatMap(i =>
      genCase.apply(Gen.Parameters.default, Seed(7171L + i)))
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    def norm(d: Any): Any = d match {
      case x: Double if x.isNaN => "NaN"
      case x => x
    }
    try cases.foreach { case (values, parts) =>
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      val data = values.zipWithIndex.flatMap { case (vs, g) =>
        vs.zipWithIndex.map { case (v, i) => (s"g$g", i, v) }
      }.sortBy { case (g, i, _) => (i * 7919 + g.hashCode) % 1009 }
      if (data.nonEmpty) {
        val df = data.toDF("g", "id", "v").repartition(4)
        val got = GlobalScan.groupedBfill(df, Seq("g"), Seq(col("id")),
            "v", "f")
          .orderBy("g", "id").select("g", "id", "f")
          .collect().map(r => (r.getString(0), r.getInt(1), norm(r.get(2))))
        val want = df.withColumn("f",
            first(col("v"), ignoreNulls = true)
              .over(Window.partitionBy("g").orderBy("id")
                .rowsBetween(Window.currentRow, Window.unboundedFollowing)))
          .orderBy("g", "id").select("g", "id", "f")
          .collect().map(r => (r.getString(0), r.getInt(1), norm(r.get(2))))
        assert(got === want, s"shufflePartitions=$parts")
        // reversal duality at the tier level: bfill == ffill over the
        // negated order key
        val dual = GlobalScan.groupedFfill(
            df.withColumn("nid", -col("id")), Seq("g"), Seq(col("nid")),
            "v", "f")
          .orderBy("g", "id").select("g", "id", "f")
          .collect().map(r => (r.getString(0), r.getInt(1), norm(r.get(2))))
        assert(dual === want, s"duality shufflePartitions=$parts")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  test("groupedCumMax/groupedCumMin property law: random values x " +
    "partition counts equal GroupByScan's WINDOW TIER (NaN poisons " +
    "the running min — np.minimum.accumulate — nulls skip, leading " +
    "nulls stay null)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val genCase: Gen[(List[List[Option[Double]]], Int)] = for {
      nGroups <- Gen.choose(1, 5)
      sizes <- Gen.listOfN(nGroups, Gen.frequency(
        3 -> Gen.choose(0, 4), 2 -> Gen.choose(5, 40),
        1 -> Gen.choose(60, 120)))
      values <- Gen.sequence[List[List[Option[Double]]], List[Option[Double]]](
        sizes.map(s => Gen.listOfN(s, Gen.frequency(
          5 -> Gen.choose(-50, 50).map(v => Some(v.toDouble)),
          1 -> Gen.const(Some(Double.NaN)),
          1 -> Gen.const(Some(-0.0)),
          2 -> Gen.const(None)))))
      parts <- Gen.oneOf(1, 2, 3, 5, 8)
    } yield (values, parts)
    val cases = (0 until 8).flatMap(i =>
      genCase.apply(Gen.Parameters.default, Seed(5151L + i)))
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    def bits(d: Any): Any = d match {
      case x: Double => java.lang.Double.doubleToRawLongBits(x)
      case x => x
    }
    try cases.foreach { case (values, parts) =>
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      val data = values.zipWithIndex.flatMap { case (vs, g) =>
        vs.zipWithIndex.map { case (v, i) => (s"g$g", i, v) }
      }.sortBy { case (g, i, _) => (i * 7919 + g.hashCode) % 1009 }
      if (data.nonEmpty) {
        val df = data.toDF("g", "id", "v").repartition(4)
        // oracle = GroupByScan itself, NOT a raw window max/min: the
        // raw min oracle masked the r15 advice-high divergence (the
        // window tier NaN-POISONS the running min — a bare
        // Double.compare fold let a later finite value replace NaN)
        for ((dist, func) <- Seq[(
            (org.apache.spark.sql.DataFrame, Seq[String], Seq[org.apache.spark.sql.Column], String, String) => org.apache.spark.sql.DataFrame,
            String)](
          (GlobalScan.groupedCumMax, "cummax"),
          (GlobalScan.groupedCumMin, "cummin"),
          (GlobalScan.groupedNanCumMax, "nancummax"),
          (GlobalScan.groupedNanCumMin, "nancummin"))) {
          val got = dist(df, Seq("g"), Seq(col("id")), "v", "m")
            .orderBy("g", "id").select("g", "id", "m")
            .collect().map(r => (r.getString(0), r.getInt(1), bits(r.get(2))))
          val want = graft.api.GroupByScan(df, Seq("g"), "v", func, "id", "m")
            .orderBy("g", "id").select("g", "id", "m")
            .collect().map(r => (r.getString(0), r.getInt(1), bits(r.get(2))))
          assert(got === want, s"func=$func shufflePartitions=$parts")
          // the REGISTRY route must agree too for the plain extrema
          // (scanAuto sends non-double numerics through it; the
          // Comparable fold NaN-poisons the min side to match)
          if (func == "cummax" || func == "cummin") {
            val reg = GlobalScan.groupedCustomScan(df, Seq("g"),
                Seq(col("id")), "v", "m", func)
              .orderBy("g", "id").select("g", "id", "m")
              .collect().map(r => (r.getString(0), r.getInt(1), bits(r.get(2))))
            assert(reg === want, s"registry func=$func parts=$parts")
          }
        }
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  test("groupedFfill carries across many partitions for a giant group " +
    "and keeps other columns and dtypes") {
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      // one giant group with sparse values + a small group riding along
      val data = (0 until 5000).map { i =>
        ("big", i, if (i % 997 == 0) Some(s"v$i") else None, i * 2)
      } ++ Seq(("tiny", 0, Some("t0"), 0), ("tiny", 1, None, 2))
      val df = data.toDF("g", "id", "v", "other").repartition(7)
      val out = GlobalScan.groupedFfill(df, Seq("g"), Seq(col("id")),
        "v", "f")
      assert(out.schema("f").dataType ===
        org.apache.spark.sql.types.StringType)
      val got = out.orderBy("g", "id")
        .select("g", "id", "f", "other").collect()
      got.filter(_.getString(0) == "big").foreach { r =>
        val i = r.getInt(1)
        val want = if (i < 0) null else s"v${(i / 997) * 997}"
        assert(r.getString(2) === want, s"row $i")
        assert(r.getInt(3) === i * 2) // other columns intact
      }
      val tiny = got.filter(_.getString(0) == "tiny").map(_.getString(2))
      assert(tiny.toSeq === Seq("t0", "t0"))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  test("groupedCustomScan: registry cummax bit-equals the window tier " +
    "across partition counts (incl. NaN, nulls, giant group)") {
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      // giant group with NaN/null sprinkled + two small groups
      val data = (0 until 3000).map { i =>
        val v: Option[Double] =
          if (i % 31 == 0) None
          else if (i % 97 == 0) Some(Double.NaN)
          else Some(((i * 7919) % 200 - 100).toDouble)
        ("big", i, v)
      } ++ Seq(("a", 0, Some(5.0)), ("a", 1, None), ("b", 0, None))
      def norm(d: Any): Any = d match {
        case x: Double if x.isNaN => "NaN"
        case x => x
      }
      for (parts <- Seq(1, 3, 8)) {
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        val df = data.toDF("g", "id", "v").repartition(5)
        val got = GlobalScan.groupedCustomScan(df, Seq("g"),
            Seq(col("id")), "v", "r", "cummax")
          .orderBy("g", "id").select("g", "id", "r")
          .collect().map(r => (r.getString(0), r.getInt(1), norm(r.get(2))))
        val want = graft.api.GroupByScan(df, Seq("g"), "v", "cummax", "id", "r")
          .orderBy("g", "id").select("g", "id", "r")
          .collect().map(r => (r.getString(0), r.getInt(1), norm(r.get(2))))
        assert(got === want, s"shufflePartitions=$parts")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  test("groupedCustomScan: user-registered fold (first non-null), " +
    "reversed scan, and foldOutType all match their window oracles") {
    import graft.aggs.CustomScans
    CustomScans.register("cumfirst_d", CustomScans.ScanSpec(
      agg = v => first(v, ignoreNulls = true),
      fold = Some((st, v) => if (st != null) st else v)))
    CustomScans.register("revmax_d", CustomScans.ScanSpec(
      v => max(v), reverse = true,
      fold = Some((st, v) =>
        if (v == null) st
        else if (st == null) v
        else if (v.asInstanceOf[Comparable[Any]].compareTo(st) > 0) v
        else st)))
    // an ACCUMULATING fold: state domain (count) differs from the
    // value domain, so the boundary merge needs its own combine —
    // fold(carry, segState) would count the segment as ONE value
    CustomScans.register("cumnn_d", CustomScans.ScanSpec(
      agg = v => count(v),
      fold = Some((st, v) =>
        if (v == null) st
        else if (st == null) 1L
        else st.asInstanceOf[Long] + 1L),
      combine = Some((a, b) => a.asInstanceOf[Long] + b.asInstanceOf[Long]),
      foldOutType = Some(org.apache.spark.sql.types.LongType)))
    val data = (0 until 500).map { i =>
      (s"g${i % 3}", i,
        if (i % 7 == 0) None else Some(((i * 131) % 50).toDouble))
    }
    val df = data.toDF("g", "id", "v").repartition(4)
    val fwd = Window.partitionBy("g").orderBy(col("id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bwd = Window.partitionBy("g").orderBy(col("id").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("g", "id").select("g", "id", "r").collect().map(_.toSeq)

    assert(rows(GlobalScan.groupedCustomScan(df, Seq("g"), Seq(col("id")),
        "v", "r", "cumfirst_d")) ===
      rows(df.withColumn("r", first(col("v"), ignoreNulls = true).over(fwd))))
    assert(rows(GlobalScan.groupedCustomScan(df, Seq("g"), Seq(col("id")),
        "v", "r", "revmax_d")) ===
      rows(df.withColumn("r", max(col("v")).over(bwd))))
    // count's empty prefix is 0 under the window; the null-identity
    // fold leaves it null — the oracle maps 0 → null to compare
    assert(rows(GlobalScan.groupedCustomScan(df, Seq("g"), Seq(col("id")),
        "v", "r", "cumnn_d")) ===
      rows(df.withColumn("r", when(count(col("v")).over(fwd) === 0,
        lit(null)).otherwise(count(col("v")).over(fwd)))))
  }

  test("carry/running scans on degenerate shapes: 1-row input, " +
    "all-one-group smaller than the partition count, empty input — " +
    "at 16 AND 64 partitions (r15 #7: high-partition-count fuzz)") {
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    try for (parts <- Seq("16", "64")) {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      // 1 row, N partitions: N-1 empty partitions in both passes
      val one = Seq(("g", 1, Some(2.0))).toDF("g", "id", "v")
      assert(GlobalScan.groupedFfill(one, Seq("g"), Seq(col("id")), "v", "f")
        .select("f").collect().map(_.get(0)).toSeq === Seq(2.0), parts)
      assert(GlobalScan.groupedPrefixSum(one, Seq("g"), Seq(col("id")),
          lit(5L), "s").select("s").collect().map(_.get(0)).toSeq === Seq(5L),
        parts)
      // 10 rows, ONE group, N>10 partitions: every non-empty partition
      // boundary is a same-group crossing
      val ten = (0 until 10).map(i =>
        ("g", i, if (i % 3 == 0) Some(i.toDouble) else None))
        .toDF("g", "id", "v")
      val f = GlobalScan.groupedFfill(ten, Seq("g"), Seq(col("id")), "v", "f")
        .orderBy("id").select("f").collect().map(_.get(0))
      assert(f.toSeq === Seq(0.0, 0.0, 0.0, 3.0, 3.0, 3.0, 6.0, 6.0, 6.0, 9.0),
        parts)
      val s = GlobalScan.groupedPrefixSum(ten, Seq("g"), Seq(col("id")),
          lit(1L), "s").orderBy("id").select("s").collect().map(_.getLong(0))
      assert(s.toSeq === (1L to 10L), parts)
      // the accumulating-fold carry (cumcount) across the same
      // degenerate boundaries: every crossing merges counts
      val c = GlobalScan.groupedCustomScan(ten, Seq("g"), Seq(col("id")),
          "v", "c", "cumcount")
        .orderBy("id").select("c").collect().map(_.getLong(0))
      assert(c.toSeq === Seq(1L, 1L, 1L, 2L, 2L, 2L, 3L, 3L, 3L, 4L), parts)
      // empty input: empty output, schema intact
      val empty = spark.emptyDataset[(String, Int, Option[Double])]
        .toDF("g", "id", "v")
      val e = GlobalScan.groupedFfill(empty, Seq("g"), Seq(col("id")), "v", "f")
      assert(e.count() === 0L)
      assert(e.schema.fieldNames.last === "f")
      assert(GlobalScan.groupedRowNumber(empty, Seq("g"), Seq(col("id")),
        "rn").count() === 0L)
      assert(GlobalScan.groupedCustomScan(empty, Seq("g"), Seq(col("id")),
        "v", "c", "cumcount").count() === 0L)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  test("prefix sums RAISE on long overflow instead of wrapping " +
    "(within a partition, across the boundary chain, and through " +
    "weightedQuantileDistributed's weight CDF)") {
    val big = Long.MaxValue / 2 + 10L
    // two rows in one group whose sum crosses 2^63 — whichever side of
    // a partition boundary they land on, some accumulation must raise
    val df = Seq(("g", 0, big), ("g", 1, big)).toDF("g", "id", "w")
    val e1 = intercept[Throwable] {
      GlobalScan.groupedPrefixSum(df, Seq("g"), Seq(col("id")),
        col("w"), "s").collect()
    }
    assert(exceptionChain(e1).exists(_.isInstanceOf[ArithmeticException]),
      s"expected ArithmeticException in: $e1")
    val e2 = intercept[Throwable] {
      GlobalScan.prefixSum(df, Seq(col("id")), col("w"), "s").collect()
    }
    assert(exceptionChain(e2).exists(_.isInstanceOf[ArithmeticException]),
      s"expected ArithmeticException in: $e2")
    // the weighted-quantile tier rides the same prefix sum: two huge
    // frequency weights must abort loudly, never return a quantile of
    // a silently wrapped CDF
    val wq = Seq(("g", 1.0, big), ("g", 2.0, big)).toDF("g", "v", "w")
    val e3 = intercept[Throwable] {
      graft.api.GroupByReduce.weightedQuantileDistributed(
        wq, Seq("g"), "v", "w", Seq(0.5)).collect()
    }
    assert(exceptionChain(e3).exists(_.isInstanceOf[ArithmeticException]),
      s"expected ArithmeticException in: $e3")
  }

  private def exceptionChain(t: Throwable): Seq[Throwable] = {
    val buf = scala.collection.mutable.ListBuffer.empty[Throwable]
    var cur = t
    while (cur != null && !buf.contains(cur)) { buf += cur; cur = cur.getCause }
    buf.toSeq
  }

  test("groupedCustomScan: refuses scans without a fold; unknown " +
    "names fail loudly") {
    val df = Seq(("g", 0, 1.0)).toDF("g", "id", "v")
    val e1 = intercept[IllegalArgumentException] {
      GlobalScan.groupedCustomScan(df, Seq("g"), Seq(col("id")),
        "v", "r", "cumprod") // pre-registered, window-only
    }
    assert(e1.getMessage.contains("binary_op"))
    val e3 = intercept[IllegalArgumentException] {
      GlobalScan.groupedCustomScan(df, Seq("g"), Seq(col("id")),
        "v", "r", "no_such_scan")
    }
    assert(e3.getMessage.contains("unknown"))
  }

  test("carry-tier cummin NaN poisoning: the exact r15 advice case " +
    "[5.0, NaN, 3.0] matches the window tier on BOTH escalation routes") {
    // windowed: [5.0, NaN, NaN] (np.minimum.accumulate); the old
    // Double.compare fold gave [5.0, 5.0, 3.0] carried — results
    // flipped with estimated group size under scanAuto
    val df = Seq(("g", 0, 5.0), ("g", 1, Double.NaN), ("g", 2, 3.0))
      .toDF("g", "id", "v")
    def vals(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.orderBy("id").select("m").collect()
        .map(r => if (r.isNullAt(0)) "null" else r.getDouble(0).toString).toSeq
    val want = Seq("5.0", "NaN", "NaN")
    assert(vals(graft.api.GroupByScan(df, Seq("g"), "v", "cummin", "id", "m"))
      === want, "window tier")
    assert(vals(GlobalScan.groupedCumMin(df, Seq("g"), Seq(col("id")),
      "v", "m")) === want, "native double carry tier")
    assert(vals(GlobalScan.groupedCustomScan(df, Seq("g"), Seq(col("id")),
      "v", "m", "cummin")) === want, "registry carry tier")
    // the float route (registry fold on boxed Float) poisons too
    val ff = Seq(("g", 0, 5.0f), ("g", 1, Float.NaN), ("g", 2, 3.0f))
      .toDF("g", "id", "v")
    val fGot = GlobalScan.groupedCustomScan(ff, Seq("g"), Seq(col("id")),
        "v", "m", "cummin")
      .orderBy("id").select("m").collect().map(_.getFloat(0))
    assert(fGot(0) === 5.0f && fGot(1).isNaN && fGot(2).isNaN, "float registry")
  }

  test("cumcount carry tier: bit-equal to the window tier across " +
    "partition counts (null values skipped, empty prefix is 0)") {
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      // giant group (boundary crossings combine counts, the
      // accumulating-fold class) + leading-null group + all-null group
      val data = (0 until 3000).map { i =>
        ("big", i, if (i % 3 == 0) None else Some(((i * 131) % 50).toDouble))
      } ++ Seq(("lead", 0, None), ("lead", 1, Some(1.0)),
        ("nul", 0, None), ("nul", 1, None))
      for (parts <- Seq(1, 3, 8)) {
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        val df = data.toDF("g", "id", "v").repartition(5)
        val got = GlobalScan.groupedCustomScan(df, Seq("g"),
            Seq(col("id")), "v", "r", "cumcount")
          .orderBy("g", "id").select("g", "id", "r")
          .as[(String, Int, Long)].collect()
        val want = graft.api.GroupByScan(df, Seq("g"), "v", "cumcount",
            "id", "r")
          .orderBy("g", "id").select("g", "id", "r")
          .as[(String, Int, Long)].collect()
        assert(got === want, s"shufflePartitions=$parts")
        // the empty-prefix encoding: leading rows before any value are
        // 0 (count semantics), not null (the fold's internal empty)
        assert(got.filter(_._1 == "lead").map(_._3).toSeq === Seq(0L, 1L))
        assert(got.filter(_._1 == "nul").map(_._3).toSeq === Seq(0L, 0L))
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  test("finish scans on the carry tier: running-fraction-of-total " +
    "(integer-exact fold) bit-equals the window tier, incl. null " +
    "group keys and a giant group") {
    import graft.aggs.CustomScans
    // integer running sum (exact across boundaries) finished by the
    // whole-group total — the running-fraction shape the r15 refusal
    // excluded; fold domain == value domain but ACCUMULATING, so the
    // combine must be declared
    CustomScans.register("cumfrac_l", CustomScans.ScanSpec(
      agg = v => sum(v),
      finish = Some((run, whole) => run.cast("double") / whole),
      fold = Some((st, v) =>
        if (v == null) st
        else if (st == null) v
        else java.lang.Long.valueOf(Math.addExact(
          st.asInstanceOf[Long], v.asInstanceOf[Long]))),
      combine = Some((a, b) =>
        if (a == null) b else if (b == null) a
        else java.lang.Long.valueOf(Math.addExact(
          a.asInstanceOf[Long], b.asInstanceOf[Long])))))
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val data: Seq[(Option[String], Int, Option[Long])] =
        (0 until 2000).map { i =>
          (Some("big"): Option[String], i,
            if (i % 11 == 0) None else Some(((i * 131) % 50 + 1).toLong))
        } ++ Seq((Some("a"), 0, Some(3L)), (Some("a"), 1, Some(5L)),
          // null group key: groupBy and the window both treat it as a
          // group; the finish join must be null-safe to keep it
          (None, 0, Some(2L)), (None, 1, Some(6L)))
      for (parts <- Seq(1, 3, 8)) {
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        val df = data.toDF("g", "id", "v").repartition(5)
        def key(r: org.apache.spark.sql.Row) =
          (if (r.isNullAt(0)) "<null>" else r.getString(0), r.getInt(1),
            if (r.isNullAt(2)) -1.0 else r.getDouble(2))
        val got = GlobalScan.groupedCustomScan(df, Seq("g"),
            Seq(col("id")), "v", "r", "cumfrac_l")
          .orderBy("g", "id").select("g", "id", "r").collect().map(key)
        val want = graft.api.GroupByScan(df, Seq("g"), "v", "cumfrac_l",
            "id", "r")
          .orderBy("g", "id").select("g", "id", "r").collect().map(key)
        assert(got === want, s"shufflePartitions=$parts")
        assert(got.count(_._1 == "<null>") === 2, "null group survived")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  test("float group keys group as the window tier does: NaN is one " +
    "group, -0.0 and 0.0 are one group (carry and long scans, double " +
    "and float keys, 3 and 8 partitions)") {
    val nan = Double.NaN
    val data = Seq(nan, nan, nan, -0.0, 0.0, -0.0, 0.0).zip(
        Seq(Some(5.0), None, None, Some(7.0), None, None, None))
      .zipWithIndex.map { case ((g, v), i) => (g, i, v) }
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    try for (parts <- Seq(3, 8); keyType <- Seq("double", "float")) {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      val df = data.toDF("g", "i", "v")
        .withColumn("g", col("g").cast(keyType)).repartition(2)
      val clue = s"shufflePartitions=$parts keys=$keyType"
      def byI(d: org.apache.spark.sql.DataFrame, out: String): Seq[Any] =
        d.orderBy("i").select(out).collect().map(_.get(0)).toSeq
      val w = Window.partitionBy("g").orderBy("i")
      val ffill = byI(GlobalScan.groupedFfill(df, Seq("g"), Seq(col("i")),
        "v", "f"), "f")
      assert(ffill === byI(graft.api.GroupByScan(df, Seq("g"), "v",
        "ffill", "i", "f"), "f"), clue)
      assert(ffill === Seq(5.0, 5.0, 5.0, 7.0, 7.0, 7.0, 7.0), clue)
      val rn = byI(GlobalScan.groupedRowNumber(df, Seq("g"), Seq(col("i")),
        "rn"), "rn")
      assert(rn === byI(df.withColumn("rn", row_number().over(w).cast("long")),
        "rn"), clue)
      assert(rn === Seq(1L, 2L, 3L, 1L, 2L, 3L, 4L), clue)
      assert(byI(GlobalScan.groupedPrefixSum(df, Seq("g"), Seq(col("i")),
          col("v"), "s"), "s") ===
        byI(df.withColumn("s", sum(col("v").cast("long")).over(w)), "s"), clue)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  test("packSequences: budget arithmetic, spans, empty docs") {
    val df = Seq((1L, 10L), (2L, 0L), (3L, 70L), (4L, 54L), (5L, 1L))
      .toDF("doc_id", "toks")
    val got = Packing.packSequences(df, "doc_id", col("toks"), budget = 64)
      .orderBy("doc_id")
      .select("doc_id", "first_seq", "last_seq", "n_seqs")
      .as[(Long, Long, Long, Long)].collect()
    // stream: d1 [0,10) seq0; d2 empty at 10; d3 [10,80) seq0-1;
    // d4 [80,134) seq1-2; d5 [134,135) seq2
    assert(got === Array((1L, 0L, 0L, 1L), (2L, 0L, 0L, 0L),
      (3L, 0L, 1L, 2L), (4L, 1L, 2L, 2L), (5L, 2L, 2L, 1L)))
  }

  test("stratifiedSample: exact floor quota per stratum, deterministic") {
    val df = (0 until 230).map(i => (i.toLong, if (i % 3 == 0) "a" else "b"))
      .toDF("doc_id", "lang")
    def run() = Selection.stratifiedSample(df, "lang", "doc_id", pct = 10)
      .select("lang", "doc_id").as[(String, Long)].collect().toSet
    val got = run()
    val perStratum = got.groupBy(_._1).map { case (k, v) => k -> v.size }
    assert(perStratum === Map("a" -> 7, "b" -> 15)) // floor(77*.1), floor(153*.1)
    assert(got === run()) // reproducible
  }

  test("tfidfTopTerms: hand-checked scores and deterministic ties") {
    val df = Seq((1L, "a a b"), (2L, "a c"), (3L, "  ")).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopTerms(df, "text", "doc_id", k = 2)
      .orderBy("doc_id", "rank")
      .select("doc_id", "term", "tfidf").as[(Long, String, Double)].collect()
    // N=2 nonempty docs; df(a)=2, df(b)=1, df(c)=1
    // doc1: b 1*2/1=2.0, a 2*2/2=2.0 — tie broken by term: a first
    assert(got === Array((1L, "a", 2.0), (1L, "b", 2.0),
      (2L, "c", 2.0), (2L, "a", 1.0)))
  }

  test("sourceShift: TV distance matches brute force over the full vocab") {
    val df = Seq(("s1", "a a b"), ("s2", "b c c c")).toDF("source", "text")
    val got = TextAnalysis.sourceShift(df, "text", "source")
      .orderBy("source").select("source", "tv").as[(String, Double)].collect().toMap
    // corpus: a=2 b=2 c=3, T=7; s1: a=2 b=1, T1=3; s2: b=1 c=3, T2=4
    def tv(p: Map[String, Double], q: Map[String, Double]) =
      (p.keySet ++ q.keySet).toSeq
        .map(t => math.abs(p.getOrElse(t, 0.0) - q.getOrElse(t, 0.0))).sum / 2
    val corpus = Map("a" -> 2.0 / 7, "b" -> 2.0 / 7, "c" -> 3.0 / 7)
    val s1 = Map("a" -> 2.0 / 3, "b" -> 1.0 / 3)
    val s2 = Map("b" -> 1.0 / 4, "c" -> 3.0 / 4)
    assert(math.abs(got("s1") - tv(s1, corpus)) < 1e-12)
    assert(math.abs(got("s2") - tv(s2, corpus)) < 1e-12)
  }
}
