package graft.llm

import graft.SparkSpec

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  test("hash sampling is deterministic, rate-respecting and stratified") {
    val docs = (1L to 2000L).map(i => (i, s"src${i % 4}")).toDF("doc_id", "source")
    val s1 = Sampling.stratifiedSample(docs, "source",
      rates = Map("src0" -> 0.8, "src1" -> 0.1), defaultRate = 0.5)
    val s2 = Sampling.stratifiedSample(docs, "source",
      rates = Map("src0" -> 0.8, "src1" -> 0.1), defaultRate = 0.5)
    val r1 = s1.as[(Long, String)].collect().toSet
    assert(r1 == s2.as[(Long, String)].collect().toSet) // reproducible
    val bySrc = r1.groupBy(_._2).view.mapValues(_.size).toMap
    assert(math.abs(bySrc("src0") - 400) < 60)   // 80% of 500
    assert(math.abs(bySrc.getOrElse("src1", 0) - 50) < 30) // 10% of 500
    assert(math.abs(bySrc("src2") + bySrc("src3") - 500) < 80) // default 50%
    // uniform sampler: rate 0 and 1 are exact
    assert(Sampling.hashSample(docs, 0.0).count() == 0)
    assert(Sampling.hashSample(docs, 1.0).count() == 2000)
  }
}

class SourcesSpec extends SparkSpec {
  import graft.sources.Sources

  test("fileInfo reports trace and field counts") {
    val r = Sources.fileInfo(spark, "/root/testdata/sf0.001", "lineitem").collect().head
    assert(r.getAs[Long]("n_traces") == 6000L)
    assert(r.getAs[Int]("n_fields") == 11)
  }

  test("headerScan prunes to the projected fields") {
    val df = Sources.headerScan(spark, "/root/testdata/sf0.001", "lineitem",
      Seq("l_orderkey", "l_linenumber"))
    assert(df.columns.toSeq == Seq("l_orderkey", "l_linenumber"))
    // column pruning visible in the optimized scan schema
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("l_orderkey") && !plan.contains("l_extendedprice"))
  }

  test("promoteIbm32 casts declared fields to float") {
    import spark.implicits._
    val df = Seq((1, 2)).toDF("a", "b")
    val out = Sources.promoteIbm32(df, Seq("b", "missing"))
    assert(out.schema("b").dataType.typeName == "float")
    assert(out.schema("a").dataType.typeName == "integer")
  }
}
