package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Similarity

/** Product quantization vs an INDEPENDENT plain-Scala reference model:
  * the model trains/encodes with straight-line loops (argmin scans,
  * per-chunk fold-in-id-order centroid means) while the engine runs the
  * narrow argmin expressions + distributed chunked-centroid aggregate —
  * different execution, bit-identical float fold order by construction,
  * so codes must agree EXACTLY on every corpus and layout. */
class PqSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private val m = 8
  private val ksub = 16
  private val dims = 64
  private val sd = dims / m

  private def md5hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.map(b => f"$b%02x").mkString
  }
  private def chunkOf(id: Long): Long =
    java.lang.Long.parseLong(md5hex(id.toString).take(7), 16) % 1024L

  /** Deterministic pseudo-random corpus: n vectors of dims floats. */
  private def corpus(n: Int, clusters: Int = 4): Seq[(Long, Array[Float])] =
    (0 until n).map { i =>
      val c = i % clusters
      val v = Array.tabulate(dims) { j =>
        val base = if (j % clusters == c) 2.0 else 0.1
        (base + 0.01 * (((i * 131 + j * 17) % 97) - 48)).toFloat
      }
      (i.toLong, v)
    }

  // ---- plain-Scala reference model (same fold orders, loop execution) --

  private type Codebook = Array[Array[Array[Double]]] // [sub][code][dim]

  private def slices(v: Array[Float], j: Int): Array[Double] =
    Array.tabulate(sd)(i => v(j * sd + i).toDouble)

  private def d2(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < sd) { val d = a(i) - b(i); acc += d * d; i += 1 }
    acc
  }

  private def argmin(sv: Array[Double], cb: Codebook, j: Int): Int = {
    var best = 0; var bestD = d2(sv, cb(j)(0))
    var c = 1
    while (c < cb(j).length) {
      val d = d2(sv, cb(j)(c))
      if (d < bestD) { best = c; bestD = d } // ties keep the smaller code
      c += 1
    }
    best
  }

  private def refTrain(vs: Seq[(Long, Array[Float])], iters: Int): Codebook = {
    val seeds = vs.sortBy { case (id, _) => (md5hex(id.toString), id) }
      .take(ksub)
    var cb: Codebook = Array.tabulate(m)(j =>
      seeds.map { case (_, v) => slices(v, j) }.toArray)
    for (_ <- 1 until iters) {
      // members per (sub, code)
      val asn = vs.flatMap { case (id, v) =>
        (0 until m).map(j => ((j, argmin(slices(v, j), cb, j)), (id, v)))
      }.groupBy(_._1)
      cb = Array.tabulate(m) { j =>
        Array.tabulate(cb(j).length) { c =>
          asn.get((j, c)) match {
            case None => cb(j)(c) // empty-cell carryover
            case Some(members) =>
              val ms = members.map(_._2)
              Array.tabulate(sd) { pos =>
                // chunked mean: per-chunk fold in id order, then chunk
                // order — the engine's centroidComponents arithmetic
                val byChunk = ms.groupBy { case (id, _) => chunkOf(id) }
                val psums = byChunk.toSeq.sortBy(_._1).map { case (_, g) =>
                  g.sortBy(_._1).foldLeft(0.0) { case (acc, (_, v)) =>
                    acc + v(j * sd + pos).toDouble
                  }
                }
                psums.foldLeft(0.0)(_ + _) / ms.size.toLong
              }
          }
        }
      }
    }
    cb
  }

  private def refEncode(vs: Seq[(Long, Array[Float])],
                        cb: Codebook): Map[Long, Seq[Int]] =
    vs.map { case (id, v) =>
      id -> (0 until m).map(j => argmin(slices(v, j), cb, j))
    }.toMap

  // ---------------------------------------------------------------------

  test("pqTrain + pqEncode match the reference model code-for-code") {
    val vs = corpus(120)
    val df = vs.toDF("vec_id", "embedding")
    val cb = Similarity.pqTrain(df, "vec_id", "embedding", m, ksub,
      iters = 2, dims)
    val codes = Similarity.pqEncode(df, cb, "vec_id", "embedding", m, ksub,
      dims).collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val ref = refEncode(vs, refTrain(vs, iters = 2))
    assert(codes.keySet == ref.keySet)
    for ((id, c) <- ref) assert(codes(id) == c, s"vec $id")
    // codebook is the COMPLETE (sub, code) grid — flat indexing depends on it
    val grid = cb.collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(grid == (for (j <- 0 until m; c <- 0 until ksub) yield (j, c)).toSet)
  }

  test("codes are layout-invariant (repartition changes nothing)") {
    val vs = corpus(90)
    val df1 = vs.toDF("vec_id", "embedding").repartition(1)
    val df7 = vs.toDF("vec_id", "embedding").repartition(7)
    def run(df: org.apache.spark.sql.DataFrame) = {
      val cb = Similarity.pqTrain(df, "vec_id", "embedding", m, ksub, 2, dims)
      Similarity.pqEncode(df, cb, "vec_id", "embedding", m, ksub, dims)
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    }
    assert(run(df1) == run(df7))
  }

  test("a seed vector encodes to its own code at iters = 1 (d2 = 0)") {
    // distinct well-separated vectors; with iters=1 the codebook IS the
    // seed slices, so each seed's nearest code in every sub is itself
    // (zero distance, and any zero-distance tie resolves to it only if
    // unique — the fixture's seeds are pairwise distinct per sub)
    val vs = (0 until ksub).map { i =>
      (i.toLong, Array.tabulate(dims)(j => (i * 100 + j).toFloat))
    }
    val df = vs.toDF("vec_id", "embedding")
    val cb = Similarity.pqTrain(df, "vec_id", "embedding", m, ksub, 1, dims)
    val codes = Similarity.pqEncode(df, cb, "vec_id", "embedding", m, ksub,
      dims).collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val seedOrder = vs.sortBy { case (id, _) => (md5hex(id.toString), id) }
      .map(_._1).zipWithIndex.toMap
    for ((id, cs) <- codes; j <- 0 until m)
      assert(cs(j) == seedOrder(id), s"vec $id sub $j")
  }

  test("pqTopK with rerank >= corpus equals exact brute-force top-k") {
    val vs = corpus(60)
    val df = vs.toDF("vec_id", "embedding")
    val pq = Similarity.pqTopK(df, "vec_id", "embedding", 0L, 5,
      rerank = 60, m = m, ksub = ksub, iters = 2, dims = dims)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = Similarity.cosineTopK(df, "vec_id", "embedding", 0L, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(pq == exact)
  }

  test("ADC ranking finds the planted near-duplicate at rerank << corpus") {
    // vec 999 is vec 0 plus tiny noise; every other vector is far. ADC
    // must put it in the top candidates so the rescore returns it first.
    val base = corpus(101).tail // ids 1..100, each with its own vector
    val probe = (0L, corpus(1).head._2)
    val near = (999L, probe._2.map(x => x + 0.001f))
    val df = (base :+ probe :+ near).toDF("vec_id", "embedding")
    val top = Similarity.pqTopK(df, "vec_id", "embedding", 0L, 1,
      rerank = 10, m = m, ksub = ksub, iters = 2, dims = dims)
      .collect()
    assert(top.head.getLong(0) == 999L)
    assert(top.head.getDouble(1) > 0.999)
  }

  test("empty-cell carryover: duplicate-heavy corpus keeps the full grid") {
    // only 3 distinct vectors across 80 rows — most codes go memberless
    // in the update round, so the grid must carry seed centroids forward
    val vs = (0 until 80).map { i =>
      (i.toLong, Array.tabulate(dims)(j => ((i % 3) * 10 + j % 5).toFloat))
    }
    val df = vs.toDF("vec_id", "embedding")
    val cb = Similarity.pqTrain(df, "vec_id", "embedding", m, ksub, 2, dims)
    assert(cb.count() == m.toLong * ksub)
    val codes = Similarity.pqEncode(df, cb, "vec_id", "embedding", m, ksub,
      dims).collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val ref = refEncode(vs, refTrain(vs, iters = 2))
    for ((id, c) <- ref) assert(codes(id) == c, s"vec $id")
  }

  test("a vector narrower than dims fails the PQ paths loudly") {
    // one ragged row among full-width ones: a short subvector used to
    // take the nearest-code null-distance branch and code as 0
    val rows = corpus(40).map { case (id, v) =>
      (id, if (id == 17L) v.take(dims - 3) else v) }
    val df = rows.toDF("vec_id", "embedding")
    val cb = Similarity.pqTrain(df.filter(col("vec_id") =!= 17L),
      "vec_id", "embedding", m, ksub, iters = 2, dims).localCheckpoint()
    def loud(f: => Unit): Unit = {
      val e = intercept[Exception](f)
      val msg = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(msg.contains(s">= $dims elements") && msg.contains("id 17"),
        msg)
    }
    loud(Similarity.pqEncode(df, cb, "vec_id", "embedding", m, ksub, dims)
      .collect())
    loud(Similarity.pqTrain(df, "vec_id", "embedding", m, ksub, iters = 2,
      dims).collect())
    loud(Similarity.pqTopK(df, "vec_id", "embedding", probeId = 0L, k = 3,
      m = m, ksub = ksub, dims = dims).collect())
    // pqEncode now requires m | dims, as pqTrain does
    intercept[IllegalArgumentException](
      Similarity.pqEncode(df, cb, "vec_id", "embedding", 7, ksub, dims))
  }
}
