package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.PqNearestCode

/** Bit-parity of the native [[PqNearestCode]] expression against the HOF
  * formulation it replaced (array_min of (d2, code) structs over
  * aggregate(zip_with(...)) folds — kept here as [[pqNearestCodeHof]],
  * the executable spec). The PQ
  * contract rows' oracles replay the HOF arithmetic in SQL, so the
  * native argmin must match it on every input shape: dense randoms,
  * exact ties, NaN poisoning, null elements, null arrays/index, ragged
  * windows past the codebook's end, and empty sides. */
class PqNearestCodeSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private val ksub = 16
  private val sd = 4

  /** Squared L2 distance between subvector `sv` and the codebook-flat
    * slice for (sub `j`, code `c`): explicit left fold from 0.0, the
    * IEEE op sequence the DuckDB oracle mirrors with list_reduce. */
  private def pqD2(sv: Column, cbFlat: Column, j: Column, c: Column,
                   ksub: Int, sd: Int): Column =
    aggregate(
      zip_with(sv, slice(cbFlat, (j * ksub + c) * sd + 1, lit(sd)),
        (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)

  /** The pre-native HOF formulation of the PQ nearest code: argmin over
    * the ksub candidates by (distance ASC, code ASC). */
  private def pqNearestCodeHof(sv: Column, cbFlat: Column, j: Column,
                               ksub: Int, sd: Int): Column =
    array_min(transform(sequence(lit(0), lit(ksub - 1)), c =>
      struct(pqD2(sv, cbFlat, j, c, ksub, sd).as("d"),
        c.as("code")))).getField("code")

  /** Rows of (sv, cbFlat, j) — cbFlat sized for m=2 subs of ksub×sd. */
  private def parityCheck(rows: Seq[(Seq[java.lang.Double],
                                     Seq[java.lang.Double],
                                     java.lang.Integer)]): Unit = {
    val df = rows.toDF("sv", "cb", "j")
    val both = df.select(
      PqNearestCode(col("sv"), col("cb"), col("j"), ksub, sd).as("native"),
      pqNearestCodeHof(col("sv"), col("cb"), col("j"), ksub,
        sd).as("hof"))
    val mismatches = both.filter(
      !(col("native") <=> col("hof"))).collect()
    assert(mismatches.isEmpty,
      s"native != HOF on ${mismatches.length} rows: " +
        mismatches.take(5).mkString("; "))
  }

  private def D(x: Double): java.lang.Double = java.lang.Double.valueOf(x)

  test("random dense inputs: native argmin == HOF argmin (both subs)") {
    val rnd = new scala.util.Random(42)
    val rows = (0 until 300).map { _ =>
      val sv = Seq.fill(sd)(D(rnd.nextGaussian()))
      val cb = Seq.fill(2 * ksub * sd)(D(rnd.nextGaussian()))
      (sv, cb, java.lang.Integer.valueOf(rnd.nextInt(2)))
    }
    parityCheck(rows)
  }

  test("exact ties keep the smaller code") {
    // codebook where codes 3 and 7 hold the identical centroid
    val cent = Seq(D(1.0), D(2.0), D(3.0), D(4.0))
    val cb = (0 until ksub).flatMap { c =>
      if (c == 3 || c == 7) cent else Seq(D(9.0), D(9.0), D(9.0), D(9.0))
    }
    parityCheck(Seq((cent, cb, java.lang.Integer.valueOf(0))))
  }

  test("NaN distances sort largest; all-NaN ties to code 0") {
    val nan = D(Double.NaN)
    val svNan = Seq(nan, D(0.0), D(0.0), D(0.0))
    val cbOk = Seq.fill(ksub * sd)(D(1.0))
    // NaN sv -> every candidate NaN -> code 0 on both sides
    parityCheck(Seq((svNan, cbOk, java.lang.Integer.valueOf(0))))
    // one NaN centroid: that candidate sorts last, not first
    val cbOneNan = Seq(nan, D(1.0), D(1.0), D(1.0)) ++
      Seq.fill((ksub - 1) * sd)(D(2.0))
    parityCheck(Seq((Seq(D(1.0), D(1.0), D(1.0), D(1.0)), cbOneNan,
      java.lang.Integer.valueOf(0))))
  }

  test("null poisoning: null elements, null arrays, null j") {
    val sv = Seq(D(1.0), D(2.0), D(3.0), D(4.0))
    val cb = Seq.fill(ksub * sd)(D(0.5))
    val svNullElem = Seq(D(1.0), null.asInstanceOf[java.lang.Double],
      D(3.0), D(4.0))
    val cbNullAtCode5 = cb.updated(5 * sd + 2,
      null.asInstanceOf[java.lang.Double])
    parityCheck(Seq(
      (svNullElem, cb, java.lang.Integer.valueOf(0)),   // all-null d -> 0
      (sv, cbNullAtCode5, java.lang.Integer.valueOf(0)), // code 5 wins
      (null, cb, java.lang.Integer.valueOf(0)),          // null sv -> 0
      (sv, null, java.lang.Integer.valueOf(0)),          // null cb -> 0
      (sv, cb, null)))                                   // null j  -> 0
  }

  test("ragged windows: codebook shorter than (j*ksub+c+1)*sd, empty sides") {
    val sv = Seq(D(1.0), D(2.0), D(3.0), D(4.0))
    // covers codes 0..9 fully, code 10 partially, 11.. not at all
    val cbShort = Seq.fill(10 * sd + 2)(D(0.25))
    val empty = Seq.empty[java.lang.Double]
    parityCheck(Seq(
      (sv, cbShort, java.lang.Integer.valueOf(0)),
      (empty, cbShort, java.lang.Integer.valueOf(0)),
      (sv, empty, java.lang.Integer.valueOf(0)),
      (empty, empty, java.lang.Integer.valueOf(0)),
      // sub 1 starts past the short codebook entirely
      (sv, cbShort, java.lang.Integer.valueOf(1))))
  }

  test("float subvectors widen like the HOF cast path") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 100).map { _ =>
      (Seq.fill(sd)(rnd.nextFloat()),
        Seq.fill(ksub * sd)(D(rnd.nextGaussian())))
    }
    val df = rows.toDF("svf", "cb")
    val both = df.select(
      PqNearestCode(col("svf"), col("cb"), lit(0), ksub, sd).as("native"),
      pqNearestCodeHof(
        transform(col("svf"), x => x.cast("double")), col("cb"), lit(0),
        ksub, sd).as("hof"))
    assert(both.filter(!(col("native") <=> col("hof"))).count() === 0)
  }
}
