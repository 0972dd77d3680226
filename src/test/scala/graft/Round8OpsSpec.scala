package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Similarity

/** Round-8 operators and fixes: the fixed-size bounded hash sample (the
  * device that keeps every telemetry gate's all-pairs input constant at
  * any corpus scale) and the crash-safe staged compactions. */
class Round8OpsSpec extends AnyFunSuite {
  import SparkTestSession._

  private def corpus(n: Int): DataFrame = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, Array(i.toDouble, 1.0, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
  }

  test("boundedHashSample: size is the CAP, independent of corpus size") {
    // the round-7 semdedup_recall gate sampled a corpus RATE (30%), so
    // its intentional all-pairs join grew O((0.3n)^2); the cap makes the
    // gate's pair count a constant at any scale — 10x the corpus, same
    // sample size, same O(cap^2) pair space
    val small = Similarity.boundedHashSample(corpus(300), "vec_id", 100)
    val large = Similarity.boundedHashSample(corpus(3000), "vec_id", 100)
    assert(small.count() == 100L && large.count() == 100L)
  }

  test("boundedHashSample: deterministic and layout-free") {
    val base = corpus(500)
    def ids(df: DataFrame) = Similarity
      .boundedHashSample(df, "vec_id", 50)
      .collect().map(_.getLong(0)).toSeq
    val a = ids(base.repartition(7, col("vec_id")))
    val b = ids(base.repartition(1).sortWithinPartitions(col("vec_id").desc))
    assert(a == b, "sample must not depend on partitioning or row order")
    assert(a.distinct.size == 50)
  }

  // ---- assignment-only index maintenance (k-means-quantized ingest) ----

  private def kmCorpus = {
    import spark.implicits._
    Seq(
      (0L, Array(1.0f, 0.1f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.2f, 0.0f, 0.0f)),
      (2L, Array(0.1f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(0.2f, 1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
  }
  private def kmBatch = {
    import spark.implicits._
    Seq(
      (10L, Array(1.0f, 0.15f, 0.0f, 0.0f)),  // joins the axis-0 cell
      (11L, Array(0.15f, 1.0f, 0.0f, 0.0f)),  // joins the axis-1 cell
      (12L, Array(0.0f, 0.0f, 0.0f, 0.0f)))   // zero-norm → cell -1
      .toDF("vec_id", "embedding")
  }
  private def kmProbes = {
    import spark.implicits._
    Seq((100L, Array(1.0f, 0.12f, 0.0f, 0.0f)),
      (200L, Array(0.12f, 1.0f, 0.0f, 0.0f)))
      .toDF("probe_id", "__pv")
  }
  private def ivfRows(df: DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
      java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
  private def kmLabeled(df: DataFrame) = df.join(
    Similarity.kmeansLabels(df, "vec_id", "embedding", k = 2, iters = 2,
      dims = 4), Seq("vec_id"))

  test("assignToCenters labels new vectors without retraining; zero-norm -1") {
    val path = java.nio.file.Files
      .createTempDirectory("graft-assign").toString
    Similarity.buildIvfIndex(kmLabeled(kmCorpus), "vec_id", "embedding",
      "cell", path, dims = 4)
    val cells = Similarity
      .assignToCenters(spark, path, kmBatch, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells.size == 3)
    assert(cells(12L) == -1, "zero-norm must get cell -1")
    // 10 lands with {0,1}'s cell, 11 with {2,3}'s — read the corpus cells
    val corpusCells = Similarity
      .assignToCenters(spark, path, kmCorpus, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells(10L) == corpusCells(0L) && cells(11L) == corpusCells(2L))
    assert(cells(10L) != cells(11L))
  }

  test("assignToCenters rejects a label-typed (non-integral) index") {
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft-assign-str").toString
    Similarity.buildIvfIndex(
      kmCorpus.withColumn("label",
        when(col("vec_id") < 2, "a").otherwise("b")),
      "vec_id", "embedding", "label", path, dims = 4)
    val e = intercept[IllegalArgumentException](Similarity
      .assignToCenters(spark, path, kmBatch, "vec_id", "embedding"))
    assert(e.getMessage.contains("integral"))
  }

  test("assigned append ≡ rebuild with the same frozen centers, bit-for-bit") {
    // append arm: label the corpus with k-means, build, append the
    // UNLABELED batch (cells derived from the stored centers)
    val appended = java.nio.file.Files
      .createTempDirectory("graft-assign-app").toString
    val labeledCorpus = kmLabeled(kmCorpus).localCheckpoint(false)
    Similarity.buildIvfIndex(labeledCorpus, "vec_id", "embedding", "cell",
      appended, dims = 4)
    // rebuild arm: label the batch against the SAME frozen centers —
    // EAGERLY materialized BEFORE the append refreshes them (a lazy
    // checkpoint would first evaluate after the refresh, silently
    // assigning both arms against the post-refresh geometry and making
    // this test unable to catch a wrong-centers regression)
    val frozenBatch = kmBatch.select(col("vec_id"), col("embedding"))
      .join(Similarity.assignToCenters(spark, appended, kmBatch,
        "vec_id", "embedding"), Seq("vec_id"))
      .localCheckpoint()
    Similarity.appendToIvfIndex(spark, appended, kmBatch,
      "vec_id", "embedding", "cell", dims = 4)
    val rebuilt = java.nio.file.Files
      .createTempDirectory("graft-assign-reb").toString
    Similarity.buildIvfIndex(labeledCorpus.unionByName(frozenBatch),
      "vec_id", "embedding", "cell", rebuilt, dims = 4)
    val a = ivfRows(Similarity.ivfKnnJoinIndexed(spark, appended, kmProbes,
      "vec_id", "embedding", "cell", k = 3, nProbe = 2))
    val b = ivfRows(Similarity.ivfKnnJoinIndexed(spark, rebuilt, kmProbes,
      "vec_id", "embedding", "cell", k = 3, nProbe = 2))
    assert(a.nonEmpty && a == b)
    // the appended vectors are reachable through the index
    assert(a.exists { case (pid, _, nid, _) => pid == 100L && nid == 10L })
    assert(a.exists { case (pid, _, nid, _) => pid == 200L && nid == 11L })
  }

  test("ArrayDot keeps the HOF's accepted-type surface and semantics") {
    import spark.implicits._
    GraftExtensions.register(spark)
    // SQL surface (dot_product/cosine_sim are public driver surface):
    // integer arrays and decimal literals widened by the analyzer cast,
    // exactly as the old per-element transform-cast did
    assert(spark.sql("SELECT dot_product(array(1, 2), array(3, 4)) AS d")
      .collect().head.getDouble(0) == 11.0)
    assert(spark.sql(
      "SELECT dot_product(array(1.5, 2.5), array(2.0, 2.0)) AS d")
      .collect().head.getDouble(0) == 8.0)
    // float arrays evaluate natively; doubles too; mixed sides widen
    val r = Seq((Array(1.0f, 2.0f), Array(3.0, 4.0)))
      .toDF("a", "b")
      .select(Similarity.dot(col("a"), col("b")).as("d"))
      .collect().head.getDouble(0)
    assert(r == 11.0)
    // HOF null semantics preserved: length mismatch and null element
    // both poison the fold to NULL; empty arrays fold to 0.0
    val n = spark.sql("SELECT dot_product(array(1.0), array(1.0, 2.0)) AS d")
      .collect().head
    assert(n.isNullAt(0), "length mismatch must be NULL")
    val z = spark.sql(
      "SELECT dot_product(CAST(array() AS ARRAY<DOUBLE>), " +
        "CAST(array() AS ARRAY<DOUBLE>)) AS d")
      .collect().head.getDouble(0)
    assert(z == 0.0, "empty arrays fold to 0.0")
    val ne = spark.sql(
      "SELECT dot_product(array(1.0, CAST(NULL AS DOUBLE)), " +
        "array(1.0, 2.0)) AS d").collect().head
    assert(ne.isNullAt(0), "null element must poison the fold")
  }

  test("boundedHashSample plans a TakeOrdered, not a corpus sort") {
    // the scale contract: a bounded per-partition heap + an n-row driver
    // merge. A global Sort or an Exchange feeding one would shuffle the
    // whole corpus to produce a 50-row sample.
    val plan = Similarity.boundedHashSample(corpus(500), "vec_id", 50)
      .queryExecution.executedPlan
    val hasTakeOrdered = plan.collectFirst {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.isDefined
    assert(hasTakeOrdered, s"expected TakeOrderedAndProject in:\n$plan")
    val hasGlobalSort = plan.collectFirst {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s
    }.isDefined
    assert(!hasGlobalSort, s"global sort for a capped sample:\n$plan")
  }
}
