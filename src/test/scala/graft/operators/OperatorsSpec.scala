package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Unit tests for the grid-inference layer: dimensions, counters, wrapping,
  * grid invariants. Cases mirror the reference's unit-test semantics
  * (`tests/unit/ingestion/test_segy_index_strategies.py`,
  * `test_segy_header_analysis.py`): duplicates, geometry Type A/B, empty
  * and single-group inputs.
  */
class DimensionsSpec extends SparkSpec {
  import spark.implicits._

  test("computeDimension returns sorted distinct non-null values") {
    val df = Seq[Option[Int]](Some(3), Some(1), Some(3), None, Some(2)).toDF("d")
    val got = Dimensions.computeDimension(df, "d").as[Int].collect()
    assert(got.toSeq == Seq(1, 2, 3))
  }

  test("dimSummary computes min/max/cardinality in one pass") {
    val df = Seq((1, 10), (2, 10), (2, 30)).toDF("a", "b")
    val row = Dimensions.dimSummary(df, Seq("a", "b")).collect().head
    assert(row.getAs[Int]("a_min") == 1 && row.getAs[Int]("a_max") == 2)
    assert(row.getAs[Long]("a_n") == 2 && row.getAs[Long]("b_n") == 2)
  }

  test("dimSummary rejects empty dims and dedupes duplicates") {
    val df = Seq((1, 2)).toDF("a", "b")
    intercept[IllegalArgumentException] { Dimensions.dimSummary(df, Nil) }
    val cols = Dimensions.dimSummary(df, Seq("a", "a")).columns.toSeq
    assert(cols == Seq("a_min", "a_max", "a_n"))
  }

  test("sortDriverSide orders a dim vector as Spark's ORDER BY ASC does") {
    def sparkOrder(df: org.apache.spark.sql.DataFrame): Seq[Any] =
      df.orderBy("k").collect().toSeq.map(_.get(0))
    def driverOrder(df: org.apache.spark.sql.DataFrame): Seq[Any] =
      Dimensions.sortDriverSide(df.schema("k").dataType,
        df.collect().toSeq.map(_.get(0)))
    val doubles = Seq[java.lang.Double](2.5, Double.NaN, null, -1.0, 0.0)
      .toDF("k")
    // NaN equals itself under java equality, not under ==
    assert(driverOrder(doubles).map(String.valueOf) ==
      sparkOrder(doubles).map(String.valueOf))
    // UTF-8 byte order: U+FF5E sorts before the supplementary U+1F600,
    // though its UTF-16 code unit is the larger
    val strings = Seq("～", "😀", null, "a").toDF("k")
    assert(driverOrder(strings) == sparkOrder(strings))
    assert(driverOrder(strings) == Seq(null, "a", "～", "😀"))
  }
}

class CountersSpec extends SparkSpec {
  import spark.implicits._

  test("duplicateCounter assigns 1-based file-order counters per dim tuple") {
    // (inline, crossline, ordinal): two duplicates of (1,1), one (1,2)
    val df = Seq((1, 1, 10), (1, 1, 20), (1, 2, 30)).toDF("il", "xl", "ord")
    val got = Counters.duplicateCounter(df, Seq("il", "xl"), Seq("ord"))
      .select("il", "xl", "ord", "trace").as[(Int, Int, Int, Long)].collect().toSet
    assert(got == Set((1, 1, 10, 1L), (1, 1, 20, 2L), (1, 2, 30, 1L)))
  }

  test("nonBinnedCounter ignores collapsed dims") {
    val df = Seq((1, 5, 10), (1, 9, 20), (2, 5, 30)).toDF("shot", "offset", "ord")
    val got = Counters.nonBinnedCounter(df, Seq("shot"), Seq("ord"))
      .select("shot", "trace").as[(Int, Long)].collect().toSet
    assert(got == Set((1, 1L), (1, 2L), (2, 1L)))
  }

  test("synthesizeComponent adds a constant dim") {
    val df = Seq(1, 2).toDF("x")
    val got = Counters.synthesizeComponent(df, "component").select("component")
      .as[Int].collect()
    assert(got.toSeq == Seq(1, 1))
  }
}

class WrappingSpec extends SparkSpec {
  import spark.implicits._

  // Geometry Type A (reference conftest.py:141-160): channels restart 1..N
  // per cable → per-cable ranges overlap.
  private def typeA = Seq(
    (0, 1), (0, 2), (0, 3),
    (1, 1), (1, 2),
    (2, 1), (2, 2), (2, 3), (2, 4)).toDF("cable", "channel")

  // Type B: sequential numbering across cables → disjoint ranges.
  private def typeB = Seq(
    (0, 1), (0, 2), (0, 3),
    (1, 4), (1, 5),
    (2, 6), (2, 7), (2, 8), (2, 9)).toDF("cable", "channel")

  test("detectChannelGeometry: overlapping per-cable ranges → Type A") {
    val row = Wrapping.detectChannelGeometry(typeA, "cable", "channel").collect().head
    assert(row.getAs[String]("geometry_type") == "A")
    assert(row.getAs[Boolean]("has_overlap"))
    assert(row.getAs[Long]("n_cables") == 3L)
  }

  test("detectChannelGeometry: sequential ranges → Type B") {
    val row = Wrapping.detectChannelGeometry(typeB, "cable", "channel").collect().head
    assert(row.getAs[String]("geometry_type") == "B")
  }

  test("rebaseChannels maps Type B to 1..N per cable") {
    val got = Wrapping.rebaseChannels(typeB, "cable", "channel")
      .select("cable", "channel", "channel_wrapped")
      .as[(Int, Int, Long)].collect().toSet
    assert(got == Set((0, 1, 1L), (0, 2, 2L), (0, 3, 3L), (1, 4, 1L), (1, 5, 2L),
      (2, 6, 1L), (2, 7, 2L), (2, 8, 3L), (2, 9, 4L)))
  }

  test("shotIndexDenseRank = searchsorted over per-line sorted uniques") {
    // line 1 shots {7, 7, 9, 12}: uniques [7,9,12] → indices 0,0,1,2
    val df = Seq((1, 7), (1, 7), (1, 9), (1, 12), (2, 5)).toDF("line", "shot")
    val got = Wrapping.shotIndexDenseRank(df, "line", "shot")
      .select("line", "shot", "shot_index").as[(Int, Int, Long)].collect().toSet
    assert(got == Set((1, 7, 0L), (1, 9, 1L), (1, 12, 2L), (2, 5, 0L)))
  }

  test("shotIndexFloorDiv collapses gun-interleaved numbering") {
    // 2 guns: shots 10,11 are the same physical shot → same index
    val df = Seq((1, 10), (1, 11), (1, 12), (1, 13)).toDF("line", "shot")
    val got = Wrapping.shotIndexFloorDiv(df, "line", "shot", numGuns = 2)
      .select("shot", "shot_index").as[(Int, Long)].collect().toSet
    assert(got == Set((10, 0L), (11, 0L), (12, 1L), (13, 1L)))
  }
}

class GridIndexSpec extends SparkSpec {
  import spark.implicits._

  test("withCellOrdinal assigns C-order cell ids via broadcast dim joins") {
    val df = Seq((10, 100), (10, 200), (20, 100), (20, 200)).toDF("il", "xl")
    val got = GridIndex.withCellOrdinal(df, Seq("il", "xl"))
      .select("il", "xl", "cell").as[(Int, Int, Long)].collect().toSet
    // 2×2 grid, strides (2,1): (10,100)→0 (10,200)→1 (20,100)→2 (20,200)→3
    assert(got == Set((10, 100, 0L), (10, 200, 1L), (20, 100, 2L), (20, 200, 3L)))
  }

  test("withCellOrdinal's dim joins plan as broadcasts on a real source") {
    // parquet-backed so the join strategy is the production one, not a
    // LocalRelation fold; dim tables are metadata-sized → must broadcast
    val path = java.nio.file.Files.createTempDirectory("gridbc").toString + "/t"
    (1 to 5000).map(i => (i % 40, i % 25)).toDF("il", "xl").write.parquet(path)
    val q = GridIndex.withCellOrdinal(spark.read.parquet(path), Seq("il", "xl"))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), "dim joins must never shuffle the fact side")
  }

  test("over-gate dims take the distributed numbering branch and produce " +
       "identical ordinals") {
    val path = java.nio.file.Files.createTempDirectory("gridog").toString + "/t"
    (1 to 5000).map(i => (i % 40, i % 25)).toDF("il", "xl").write.parquet(path)
    val src = spark.read.parquet(path)
    val expected = GridIndex.withCellOrdinal(src, Seq("il", "xl"))
      .select("il", "xl", "cell").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    val prev = spark.conf.getOption("graft.dims.driverMaxValues")
    spark.conf.set("graft.dims.driverMaxValues", "10") // il's 40 > gate
    try {
      val q = GridIndex.withCellOrdinal(src, Seq("il", "xl"),
        cardinalities = Map("il" -> 40L, "xl" -> 25L))
      val got = q.select("il", "xl", "cell").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
      assert(got == expected)
      // both dims exceeded the lowered gate → no single-partition window
      // anywhere in the plan
      assert(!q.queryExecution.executedPlan.toString.contains("Window"),
        "over-gate dims must not number through a window")
    } finally prev.fold(spark.conf.unset("graft.dims.driverMaxValues"))(v =>
      spark.conf.set("graft.dims.driverMaxValues", v))
  }

  test("UNKNOWN-cardinality dims are pre-checked and an over-gate one never " +
       "plans an unpartitioned window") {
    // stands in for the pathological 10⁷-value dim: gate lowered so the
    // approx_count_distinct pre-check (not the caller) must route `il`
    // through the distributed branch — no cardinalities passed at all
    val path = java.nio.file.Files.createTempDirectory("gridpre").toString + "/t"
    (1 to 5000).map(i => (i, i % 25)).toDF("il", "xl").write.parquet(path)
    val src = spark.read.parquet(path)
    val prev = spark.conf.getOption("graft.dims.driverMaxValues")
    spark.conf.set("graft.dims.driverMaxValues", "1000") // il's 5000 > gate
    try {
      // the small dim (xl, 25 values) still numbers through its tiny
      // broadcast window — only the big dim must route around it
      val q = GridIndex.withDimIndices(src, Seq("il"))
      assert(!q.queryExecution.executedPlan.toString.contains("Window"),
        "the pre-check must keep a high-cardinality dim out of the window branch")
      // ordinals still correct: il is 1..5000 → idx = il-1
      val got = q.where($"il" <= 3).select("il", "il_idx")
        .as[(Int, Long)].collect().toSet
      assert(got == Set((1, 0L), (2, 1L), (3, 2L)))
    } finally prev.fold(spark.conf.unset("graft.dims.driverMaxValues"))(v =>
      spark.conf.set("graft.dims.driverMaxValues", v))
  }

  test("liveTraceCheck detects duplicate dim tuples") {
    val unique = Seq((1, 1), (1, 2)).toDF("a", "b")
    val dup = Seq((1, 1), (1, 1)).toDF("a", "b")
    assert(GridIndex.liveTraceCheck(unique, Seq("a", "b"))
      .collect().head.getAs[Boolean]("all_unique"))
    assert(!GridIndex.liveTraceCheck(dup, Seq("a", "b"))
      .collect().head.getAs[Boolean]("all_unique"))
    // the QC aggregate's per-dim value sets are pruned from the J2 view
    assert(!GridIndex.liveTraceCheck(dup, Seq("a", "b"))
      .queryExecution.optimizedPlan.toString.contains("collect_set"))
  }

  test("sparsityQC flags sparse grids at 2x/10x thresholds") {
    // 4×4 grid, 1 row → sparsity 16 → warn AND error
    val sparse = Seq((1, 1), (2, 2), (3, 3), (4, 4)).toDF("a", "b").limit(4)
    val row = GridIndex.sparsityQC(sparse, Seq("a", "b")).collect().head
    assert(row.getAs[Double]("sparsity") == 4.0)
    assert(row.getAs[Boolean]("warn") && !row.getAs[Boolean]("error"))
  }
}

class StatsSpec extends SparkSpec {
  import spark.implicits._

  test("summaryStats: masked count + naive-variance derived stats") {
    // values 1,2,3 (0 masked out): mean 2, var (1+4+9)/3 - 4 = 2/3
    val df = Seq(1.0, 2.0, 3.0, 0.0).toDF("x")
    val r = Stats.summaryStats(df, "x").collect().head
    assert(r.getAs[Long]("n") == 3L)
    assert(r.getAs[Double]("min_val") == 1.0 && r.getAs[Double]("max_val") == 3.0)
    assert(r.getAs[Double]("sum_val") == 6.0 && r.getAs[Double]("sumsq_val") == 14.0)
    assert(r.getAs[Double]("mean_val") == 2.0)
    assert(math.abs(r.getAs[Double]("var_val") - 2.0 / 3.0) < 1e-12)
  }
}

class MaskingSpec extends SparkSpec {
  import spark.implicits._

  test("applyMasks throws on empty selection (reference parity)") {
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    intercept[Masking.EmptySelectionException] {
      Masking.applyMasks(df, Seq(col("k") > 100))
    }
  }

  test("boundingBox + maskedSelect trim to the live region") {
    val df = Seq((1, 10, true), (5, 50, true), (9, 90, false)).toDF("a", "b", "live")
    val bbox = Masking.boundingBox(df, col("live"), Seq("a", "b")).collect().head
    assert(bbox.getAs[Int]("a_lo") == 1 && bbox.getAs[Int]("a_hi") == 5)
    assert(bbox.getAs[Long]("n_live") == 2L)
    val rows = Masking.maskedSelect(df, col("live"), Seq("a", "b"), Seq("a", "b"))
      .as[(Int, Int)].collect().toSet
    assert(rows == Set((1, 10), (5, 50)))
  }
}

class SelectionSpec extends SparkSpec {
  import spark.implicits._

  test("sel supports point, inclusive range and list selection") {
    val df = Seq((1, "x"), (2, "y"), (3, "x"), (4, "z")).toDF("k", "v")
    import Selection._
    assert(sel(df, Map("k" -> Point(2))).count() == 1)
    assert(sel(df, Map("k" -> Range(2, 4))).count() == 3) // inclusive, like xarray
    assert(sel(df, Map("k" -> Values(Seq(1, 4)), "v" -> Point("z"))).count() == 1)
  }
}

/** xarray `isel` semantics, run once per resolver: `dimTable` is a dim
  * whose sorted labels are 10, 20, 30, 40, 50, in the form the resolver
  * takes, and `session` builds the handle cases' frames.
  */
abstract class IselCases extends SparkSpec {
  import Selection.{IPoint, ISel, ISlice, IValues, Point, Range, Sel, Values}

  type Table
  protected def dimTable: Table
  protected def resolvePositional(t: Table, isel: ISel): Sel
  protected lazy val session: org.apache.spark.sql.SparkSession = spark
  import session.implicits._

  private def handleOf(df: org.apache.spark.sql.DataFrame, path: String) =
    graft.storage.MdioDatasetHandle(
      df, graft.schema.MdioSchema(Nil,
        graft.schema.DatasetMetadata("t", "1", "2026-01-01T00:00:00Z")), path)

  test("IPoint resolves a position to its label; negative counts from end") {
    assert(resolvePositional(dimTable, IPoint(0)) == Point(10))
    assert(resolvePositional(dimTable, IPoint(4)) == Point(50))
    assert(resolvePositional(dimTable, IPoint(-1)) == Point(50))
    assert(resolvePositional(dimTable, IPoint(-5)) == Point(10))
  }

  test("IPoint raises out of bounds, like xarray") {
    intercept[IndexOutOfBoundsException] {
      resolvePositional(dimTable, IPoint(5))
    }
    intercept[IndexOutOfBoundsException] {
      resolvePositional(dimTable, IPoint(-6))
    }
  }

  test("ISlice is stop-exclusive and clamps silently") {
    assert(resolvePositional(dimTable, ISlice(1, 3)) == Range(20, 30))
    assert(resolvePositional(dimTable, ISlice(3, 99)) == Range(40, 50)) // clamp
    assert(resolvePositional(dimTable, ISlice(2, 2)) == Values(Nil))   // empty
    assert(resolvePositional(dimTable, ISlice(7, 9)) == Values(Nil))   // past end
    assert(resolvePositional(dimTable, ISlice(-2, 5)) == Range(40, 50))
  }

  test("IValues maps positions to labels and raises on any miss") {
    assert(resolvePositional(dimTable, IValues(Seq(0, 2, -1))
      ).asInstanceOf[Values].vs.toSet == Set(10, 30, 50))
    intercept[IndexOutOfBoundsException] {
      resolvePositional(dimTable, IValues(Seq(1, 9)))
    }
  }

  test("handle.isel without dim tables falls back to a distinct scan") {
    val df = Seq((10, 1.0), (20, 2.0), (30, 3.0), (30, 4.0)).toDF("k", "v")
    val handle = handleOf(df, "/nonexistent/isel_test_path")
    val got = handle.isel("k" -> ISlice(1, 3)).agg(sum($"v")).as[Double]
      .collect().head
    assert(got == 9.0) // k in {20, 30}
  }

  test("handle.isel fallback positions follow ORDER BY ASC: nulls first, NaN last") {
    val df = Seq[(java.lang.Double, Double)]((1.0, 1.0), (null, 2.0),
      (Double.NaN, 3.0), (2.0, 4.0), (1.0, 5.0)).toDF("k", "v")
    val labels = df.select($"k".as("dim_value")).distinct()
    val ordered = df.select($"k").distinct().orderBy($"k").collect()
      .map(r => r.get(0)).toSeq
    assert(ordered.length == 4 && ordered.head == null)
    // NaN compares unequal to itself under ==; java equality matches it
    def label(s: Sel): Any = s match { case Point(v) => v; case o => o }
    ordered.indices.foreach { i =>
      val got = label(Selection.resolve(labels, IPoint(i)))
      assert(java.util.Objects.equals(got, ordered(i)), s"position $i: $got")
    }
    val handle = handleOf(df, "/nonexistent/isel_nan_path")
    def vs(is: ISel): Set[Double] =
      handle.isel("k" -> is).select($"v").as[Double].collect().toSet
    assert(vs(ISlice(0, 2)) == Set(1.0, 5.0))        // the null label matches no row
    assert(vs(ISlice(1, 4)) == Set(1.0, 3.0, 4.0, 5.0))
    assert(vs(IPoint(-1)) == Set(3.0))               // NaN sorts last
    assert(vs(ISlice(0, 1)).isEmpty)                 // nulls alone: empty
    intercept[IndexOutOfBoundsException](vs(IPoint(4)))
  }
}

class IselSpec extends IselCases {
  type Table = IndexedSeq[Any]
  protected def dimTable: Table = IndexedSeq(10, 20, 30, 40, 50)
  protected def resolvePositional(t: Table, isel: Selection.ISel): Selection.Sel =
    Selection.resolvePositional(t, isel)
}

/** [[IselCases]] with `graft.dims.driverMaxValues=2` on a session of its
  * own: every dim is over the gate, so each case takes the distributed arm
  * of [[Selection.resolve]].
  */
class IselOverGateSpec extends IselCases {
  override protected lazy val session = {
    val s = spark.newSession()
    s.conf.set("graft.dims.driverMaxValues", "2")
    s
  }
  type Table = org.apache.spark.sql.DataFrame
  protected def dimTable: Table = {
    val s = session
    import s.implicits._
    Seq(30, 10, 50, 20, 40).toDF("dim_value")
  }
  protected def resolvePositional(t: Table, isel: Selection.ISel): Selection.Sel = {
    assert(Selection.sortedLabels(t).isEmpty, "the gate must route past the driver")
    Selection.resolve(t, isel)
  }

  test("sortedLabels collects a within-gate vector in ORDER BY order") {
    val s = session
    import s.implicits._
    assert(Selection.sortedLabels(Seq(2, 1).toDF("dim_value")) ==
      Some(IndexedSeq(1, 2)))
  }
}

class ProjectionSpec extends SparkSpec {
  import spark.implicits._

  test("requiredFields = schema ∩ spec, + scalar only when scaled") {
    val schema = Set("inline", "crossline", "cdp_x")
    val spec = Set("inline", "cdp_x", "coordinate_scalar", "other")
    assert(Projection.requiredFields(schema, spec, hasScaledCoords = false) ==
      Set("inline", "cdp_x"))
    assert(Projection.requiredFields(schema, spec, hasScaledCoords = true) ==
      Set("inline", "cdp_x", "coordinate_scalar"))
  }

  test("projectToSpec reorders and rejects missing fields") {
    val df = Seq((1, "a", 2.0)).toDF("x", "y", "z")
    assert(Projection.projectToSpec(df, Seq("z", "x")).columns.toSeq == Seq("z", "x"))
    intercept[IllegalArgumentException] {
      Projection.projectToSpec(df, Seq("nope"))
    }
  }
}

class GlobalOrderSpec extends SparkSpec {
  import spark.implicits._

  test("withGlobalSeq assigns contiguous 0-based ids in sort order") {
    val df = Seq((2, 1), (1, 2), (1, 1), (2, 2)).toDF("a", "b")
      .repartition(3) // exercise cross-partition offsets
    val got = GlobalOrder.withGlobalSeq(df, Seq("a", "b"))
      .select("a", "b", "seq").as[(Int, Int, Long)].collect().toList
    assert(got.sortBy(_._3) ==
      List((1, 1, 0L), (1, 2, 1L), (2, 1, 2L), (2, 2, 3L)))
  }
}

class CoordinatesSpec extends SparkSpec {
  import spark.implicits._

  test("populateCoordinate takes first-by-order value per cell, scalar applied") {
    val df = Seq((1, 10, 500.0), (1, 20, 700.0), (2, 5, 300.0)).toDF("cell", "ord", "c")
    val got = Coordinates.populateCoordinate(df, Seq("cell"), Seq("c"), "ord", scalar = -100)
      .as[(Int, Double)].collect().toSet
    assert(got == Set((1, 5.0), (2, 3.0))) // first by ord, then /100
  }

  test("applyScalar: positive multiplies, negative divides") {
    val df = Seq(10.0).toDF("c")
    assert(df.select(Coordinates.applyScalar(col("c"), 3)).as[Double].head() == 30.0)
    assert(df.select(Coordinates.applyScalar(col("c"), -4)).as[Double].head() == 2.5)
    intercept[IllegalArgumentException] { Coordinates.applyScalar(col("c"), 0) }
  }
}

class EventsSpec extends SparkSpec {
  import spark.implicits._

  test("sessionize starts a new session after the gap") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(base.getTime + min * 60000L)
    val df = Seq(
      (1L, 100L, ts(0)), (2L, 100L, ts(10)), (3L, 100L, ts(50)), // gap 40min → new
      (4L, 200L, ts(0))).toDF("event_id", "user_id", "ts")
    val got = Events.sessionize(df, gapMinutes = 30)
      .select("event_id", "session_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 1L), (2L, 1L), (3L, 2L), (4L, 1L)))
  }

  test("funnel: strict time order, out-of-order steps don't count, " +
       "same-timestamp steps don't advance") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(base.getTime + min * 60000L)
    val df = Seq(
      // user 1 completes A→B→C in order
      (1L, "A", ts(0)), (1L, "B", ts(1)), (1L, "C", ts(2)),
      // user 2: B before A — only A counts (B must follow A)
      (2L, "B", ts(0)), (2L, "A", ts(1)),
      // user 3: A and B at the SAME instant — strict > doesn't advance
      (3L, "A", ts(0)), (3L, "B", ts(0)),
      // user 4: never enters
      (4L, "C", ts(0)),
      // user 5: A, early B (before A) then late B — late B counts
      (5L, "B", ts(0)), (5L, "A", ts(1)), (5L, "B", ts(2)))
      .map { case (u, t, x) => (u, t, x) }
      .toDF("user_id", "event_type", "ts")
    val got = Events.funnel(df, Seq("A", "B", "C"))
      .select("step", "n_users").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 4L, 2L -> 2L, 3L -> 1L))
  }

  test("cohortRetention counts a user once per active day, offset-bounded") {
    def ts(day: Int, h: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d $h%02d:00:00")
    val df = Seq(
      (1L, ts(0, 1)), (1L, ts(0, 5)), (1L, ts(2, 3)), // day 0 twice, day 2
      (2L, ts(1, 0)), (2L, ts(9, 0)))                 // day 9 > offset 7: out
      .toDF("user_id", "ts")
    val got = Events.cohortRetention(df, maxOffsetDays = 7)
      .select("cohort_day", "day_offset", "n_users")
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
      .toSet
    assert(got == Set(("2024-01-01", 0L, 1L), ("2024-01-01", 2L, 1L),
      ("2024-01-02", 0L, 1L)))
  }
}
