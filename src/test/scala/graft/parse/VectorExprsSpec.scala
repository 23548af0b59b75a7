package graft.parse

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Native kernels must be bit-identical to the HOF compositions they
  * replaced (they feed oracle-checked queries). */
class VectorExprsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("vec_dot equals the aggregate(zip_with) fold bit-for-bit") {
    val rnd = new scala.util.Random(3)
    val rows = (1 to 50).map(_ =>
      (Seq.fill(64)(rnd.nextFloat() * 2 - 1), Seq.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = rows.toDF("a", "b")
    val hof = df.select(aggregate(
      zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)).as[Double].collect()
    val native = df.select(call_function("vec_dot", col("a"), col("b")))
      .as[Double].collect()
    assert(native.toSeq === hof.toSeq) // exact equality, not approx
  }

  test("vec_l2sq equals the aggregate(zip_with) squared-distance fold bit-for-bit") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 50).map(_ =>
      (Seq.fill(8)(rnd.nextDouble() * 2 - 1), Seq.fill(8)(rnd.nextDouble() * 2 - 1)))
    val df = rows.toDF("a", "b")
    val hof = df.select(aggregate(
      zip_with(col("a"), col("b"), (x, c) => (x - c) * (x - c)),
      lit(0.0), (acc, v) => acc + v)).as[Double].collect()
    val native = df.select(call_function("vec_l2sq", col("a"), col("b")))
      .as[Double].collect()
    assert(native.toSeq === hof.toSeq) // exact equality, not approx
    // null semantics: unequal lengths -> NULL, like the zip_with fold
    val uneq = Seq((Seq(1.0, 2.0), Seq(1.0))).toDF("a", "b")
      .select(call_function("vec_l2sq", col("a"), col("b")))
    assert(uneq.collect().head.isNullAt(0))
  }

  test("pq_code equals the array_position(array_min) over l2-fold composition") {
    val rnd = new scala.util.Random(13)
    val cb = (0 until 16).map(_ => Seq.fill(8)(rnd.nextDouble() * 2 - 1))
    val rows = (1 to 200).map(_ => Tuple1(Seq.fill(8)(rnd.nextDouble() * 2 - 1)))
    val df = rows.toDF("sub")
    def l2(cent: Seq[Double]) = aggregate(
      zip_with(col("sub"), typedLit(cent), (x, c) => (x - c) * (x - c)),
      lit(0.0), (acc, v) => acc + v)
    val ds = array(cb.map(l2): _*)
    val comp = df.select((array_position(ds, array_min(ds)) - 1).cast("int"))
      .as[Int].collect()
    val native = df.select(call_function("pq_code", col("sub"), typedLit(cb)))
      .as[Int].collect()
    assert(native.toSeq === comp.toSeq)
    // tie-break: duplicate centroid -> FIRST min wins (array_position order)
    val dup = Seq(cb(3)) ++ cb
    val nat2 = df.select(call_function("pq_code", col("sub"), typedLit(dup)))
      .as[Int].collect()
    comp.zip(nat2).foreach { case (c, n2) =>
      assert(n2 === (if (c == 3) 0 else c + 1)) }
    // null semantics: length mismatch -> NULL, like the all-NULL distance array
    val bad = Seq(Tuple1(Seq(1.0, 2.0))).toDF("sub")
      .select(call_function("pq_code", col("sub"), typedLit(cb)))
    assert(bad.collect().head.isNullAt(0))
  }

  /** The message a misused pq_code call fails with (the function's require
    * may surface wrapped in an analysis error). */
  private def pqCodeError(codebook: org.apache.spark.sql.Column): String = {
    val e = intercept[Exception](Seq(Tuple1(Seq(1.0, 2.0))).toDF("sub")
      .select(call_function("pq_code", col("sub"), codebook)).collect())
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).find(_.contains("pq_code"))
      .getOrElse(fail(s"no pq_code message in $e"))
  }

  test("pq_code rejects a codebook that is not array<array<double>>") {
    val typeMsg = "pq_code(subvector, array(array(double)) codebook literal)"
    assert(pqCodeError(typedLit(Seq(Seq(1.0f, 2.0f)))).contains(typeMsg))
    assert(pqCodeError(typedLit(Seq(Seq(1, 2)))).contains(typeMsg))
    assert(pqCodeError(typedLit(Seq(1.0, 2.0))).contains(typeMsg))
  }

  test("pq_code rejects a NULL codebook, a NULL row and a NULL value") {
    val nullMsg = "pq_code: codebook must not be NULL"
    assert(pqCodeError(lit(null).cast("array<array<double>>")).contains(nullMsg))
    assert(pqCodeError(typedLit(Seq(Seq(1.0, 2.0), null))).contains(nullMsg))
    assert(pqCodeError(typedLit(Seq(Seq[java.lang.Double](1.0, null))))
      .contains(nullMsg))
  }

  test("vec_dot handles mixed float/double arrays (hyperplane path)") {
    val out = Seq((Seq(1f, 2f), Seq(0.5, 0.25))).toDF("v", "p")
      .select(call_function("vec_dot", col("v"), col("p"))).as[Double].head()
    assert(out === 1.0)
  }

  test("jaccard equals the array_intersect composition") {
    val nonEmpty = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")),
      (Seq("a"), Seq("x")),
      (Seq("a", "a", "b"), Seq("a"))).toDF("a", "b")
    val comp = nonEmpty.select(
      (size(array_intersect(col("a"), col("b"))).cast("double") /
        (size(col("a")) + size(col("b")) -
          size(array_intersect(col("a"), col("b")))).cast("double")))
      .as[Double].collect()
    val native = nonEmpty.select(call_function("jaccard", col("a"), col("b")))
      .as[Double].collect()
    assert(native.toSeq === comp.toSeq)
    // empty∪empty is defined as 1.0 (identical empty sets; the raw
    // composition would divide by zero under ANSI)
    val empty = Seq((Seq.empty[String], Seq.empty[String])).toDF("a", "b")
    assert(empty.select(call_function("jaccard", col("a"), col("b")))
      .as[Double].head() === 1.0)
  }

  test("intersect_count equals size(array_intersect) on long arrays") {
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)),
      (Seq(1L, 1L, 2L), Seq(1L)),
      (Seq.empty[Long], Seq(1L))).toDF("a", "b")
    val comp = df.select(size(array_intersect(col("a"), col("b"))))
      .as[Int].collect()
    val native = df.select(call_function("intersect_count", col("a"), col("b")))
      .as[Long].collect()
    assert(native.toSeq === comp.map(_.toLong).toSeq)
  }

  test("tokens_ws equals the filter(split) composition") {
    val df = Seq("  a  b c ", "", "   ", "single", "x y").toDF("t")
    val comp = df.select(filter(split(col("t"), " "), x => length(x) > 0))
      .as[Seq[String]].collect()
    val native = df.select(call_function("tokens_ws", col("t")))
      .as[Seq[String]].collect()
    assert(native.toSeq === comp.toSeq)
  }

  test("count_in counts set membership incl. duplicates") {
    val out = Seq(Seq("the", "cat", "the", "dog")).toDF("toks")
      .select(call_function("count_in", col("toks"),
        array(lit("the"), lit("a")))).as[Int].head()
    assert(out === 2)
  }

  test("simhash64 equals the per-bit xxhash64 vote composition") {
    val df = Seq(Seq("alpha", "beta", "gamma"), Seq("x"), Seq.empty[String])
      .toDF("toks")
    val hashes = transform(col("toks"), t => xxhash64(t))
    val bits = (0 until 64).map { i =>
      val votes = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, i).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      when(votes > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    val comp = df.select(bits.reduce((x, y) => x.bitwiseOR(y))).as[Long].collect()
    val native = df.select(call_function("simhash64", col("toks"))).as[Long].collect()
    assert(native.toSeq === comp.toSeq)
  }
}
