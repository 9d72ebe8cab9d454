package graft.expr

import graft.SparkSpec
import graft.vec.VectorOps
import org.apache.spark.sql.functions._

class VectorExpressionsSpec extends SparkSpec {

  private val rnd = new scala.util.Random(5)
  private def vec(n: Int): Array[Float] = Array.fill(n)(rnd.nextFloat() - 0.5f)

  test("vec_dot matches the driver-side Double arithmetic exactly") {
    import spark.implicits._
    val pairs = Seq.fill(50)((vec(64), vec(64)))
    val df = pairs.toDF("a", "b")
      .select(VectorOps.dotColsNative(col("a"), col("b")).as("d"))
    val got = df.collect().map(_.getDouble(0))
    val want = pairs.map { case (a, b) => VectorOps.dot(a, b) }
    got.zip(want).foreach { case (g, w) => assert(g == w) } // bit-identical
  }

  test("vec_cosine and vec_norm match the UDF reference implementations") {
    import spark.implicits._
    val pairs = Seq.fill(20)((vec(64), vec(64)))
    val df = pairs.toDF("a", "b").select(
      VectorOps.cosineColsNative(col("a"), col("b")).as("c"),
      call_function("vec_norm", col("a")).as("n"))
    df.collect().zip(pairs).foreach { case (row, (a, b)) =>
      val d = VectorOps.l2norm(a) * VectorOps.l2norm(b)
      assert(row.getDouble(0) == (if (d == 0.0) 0.0 else VectorOps.dot(a, b) / d))
      assert(row.getDouble(1) == VectorOps.l2norm(a))
    }
  }

  test("vec_nrm2_micro matches the floor-micro driver arithmetic and the " +
    "interpreted HOF form exactly") {
    import spark.implicits._
    val vs = Seq.fill(50)(vec(64)) :+ Array(0.0f, -0.0f, 1.5f) :+ Array[Float]()
    def ref(v: Array[Float]): Long =
      v.map(x => { val m = math.floor(x.toDouble * 1e6 + 0.5).toLong; m * m }).sum
    val hof = "aggregate(v, CAST(0 AS BIGINT), (acc, x) -> acc" +
      " + CAST(floor(CAST(x AS DOUBLE) * 1000000.0D + 0.5D) AS BIGINT)" +
      " * CAST(floor(CAST(x AS DOUBLE) * 1000000.0D + 0.5D) AS BIGINT))"
    val rows = vs.map(Tuple1(_)).toDF("v")
      .select(VectorOps.nrm2MicroNative(col("v")).as("n"),
        expr(s"$hof AS h")).collect()
    rows.zip(vs).foreach { case (r, v) =>
      assert(r.getLong(0) == ref(v) && r.getLong(1) == ref(v))
    }
    // interpreted eval agrees with codegen path
    val e = VectorExpressions.VecNrm2Micro(
      org.apache.spark.sql.catalyst.expressions.Literal.create(vs.head,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))
    assert(e.eval(null).asInstanceOf[Long] == ref(vs.head))
  }

  test("vec_ndot matches the retired dotNormalized UDF arithmetic exactly " +
    "(norm over ALL of v, dot over min-length, zero vector → 0.0)") {
    import spark.implicits._
    val q = vec(64)
    val vs = Seq.fill(50)(vec(64).map(_.toDouble)) :+
      Array.fill(64)(0.0) :+                      // zero vector
      vec(80).map(_.toDouble)                     // longer than q: norm uses all 80
    def ref(v: Array[Double]): Double = {
      var n2 = 0.0; var i = 0
      while (i < v.length) { n2 += v(i) * v(i); i += 1 }
      val n = math.sqrt(n2)
      if (n == 0.0) 0.0
      else {
        var s = 0.0; i = 0
        val m = math.min(v.length, q.length)
        while (i < m) { s += (v(i) / n) * q(i).toDouble; i += 1 }
        s
      }
    }
    val rows = vs.map(Tuple1(_)).toDF("v")
      .select(VectorOps.ndotQueryNative(col("v"), q).as("s")).collect()
    rows.zip(vs).foreach { case (r, v) => assert(r.getDouble(0) == ref(v)) }
    // interpreted eval agrees with codegen
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    val e = VectorExpressions.VecNDot(
      Literal.create(vs.head, ArrayType(DoubleType)),
      Literal.create(q, ArrayType(FloatType)))
    assert(e.eval(null).asInstanceOf[Double] == ref(vs.head))
  }

  test("null and length-mismatch inputs behave") {
    import spark.implicits._
    val df = Seq(
      (Some(vec(64)), Some(vec(32))),          // mismatched dims → min-length
      (None: Option[Array[Float]], Some(vec(64)))) // null → null
      .toDF("a", "b")
      .select(VectorOps.dotColsNative(col("a"), col("b")).as("d"))
    val rows = df.collect()
    assert(!rows(0).isNullAt(0))
    assert(rows(1).isNullAt(0))
  }

  test("vec_decode reads little-endian float32 blobs (the reference format)") {
    import spark.implicits._
    // 1.0f = 3F800000, -2.0f = C0000000, little-endian byte order —
    // pins the endianness byte-for-byte (`index_wikimedia.py:64`)
    val bytes = Array[Byte](
      0x00, 0x00, 0x80.toByte, 0x3F,
      0x00, 0x00, 0x00, 0xC0.toByte)
    val got = Seq(Tuple1(bytes)).toDF("b")
      .select(VectorOps.decodeVec(col("b")).as("v"))
      .head().getSeq[Float](0)
    assert(got == Seq(1.0f, -2.0f))
  }

  test("vec_encode then vec_decode is the identity on every row") {
    import spark.implicits._
    val vs = Seq.fill(30)(vec(64))
    val got = vs.map(Tuple1(_)).toDF("v")
      .select(VectorOps.decodeVec(VectorOps.encodeVec(col("v"))).as("w"))
      .collect().map(_.getSeq[Float](0))
    got.zip(vs).foreach { case (g, w) => assert(g == w.toSeq) }
    // trailing bytes beyond the last whole float32 word are ignored
    val ragged = Array[Byte](0x00, 0x00, 0x80.toByte, 0x3F, 0x7F)
    val r = Seq(Tuple1(ragged)).toDF("b")
      .select(VectorOps.decodeVec(col("b")).as("v"))
      .head().getSeq[Float](0)
    assert(r == Seq(1.0f))
  }

  test("two vec_* exprs over non-nullable children codegen-compile (no interpreted fallback)") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeArrayData}
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    // With non-nullable children nullSafeCodeGen emits each expression's
    // loop UNWRAPPED into one generated function, so fixed local names
    // (n, acc, i, …) collide → Janino "Redefinition of local variable" →
    // silent fallback to interpreted eval (VERDICT r02 #1).
    // GenerateUnsafeProjection.generate throws on a codegen compile error
    // instead of falling back, so this is a hard regression gate.
    val arrTy = ArrayType(FloatType, containsNull = false)
    val a = BoundReference(0, arrTy, nullable = false)
    val b = BoundReference(1, arrTy, nullable = false)
    val proj = GenerateUnsafeProjection.generate(Seq(
      VectorExpressions.VecDot(a, b),
      VectorExpressions.VecDot(b, a),
      VectorExpressions.VecNorm(a),
      VectorExpressions.VecNorm(b),
      VectorExpressions.VecCosine(a, b)))
    val x = vec(16); val y = vec(16)
    val out = proj(InternalRow(
      UnsafeArrayData.fromPrimitiveArray(x), UnsafeArrayData.fromPrimitiveArray(y)))
    assert(out.getDouble(0) == VectorOps.dot(x, y))
    assert(out.getDouble(1) == VectorOps.dot(y, x))
    assert(out.getDouble(2) == VectorOps.l2norm(x))
    assert(out.getDouble(3) == VectorOps.l2norm(y))
  }

  test("vec_qdot matches the quantize()-then-dot reference exactly, " +
    "incl. zero vectors and length mismatch, and codegen-compiles " +
    "alongside other vec_* exprs") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, UnsafeArrayData}
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}
    def refQdot(v: Array[Float], qq: Array[Long]): Long = {
      var m = 0.0
      v.foreach(x => m = math.max(m, math.abs(x.toDouble)))
      if (m == 0.0) 0L
      else {
        val qv = v.map(x => math.floor(x.toDouble * 127.0 / m + 0.5).toLong)
        qv.zip(qq).map { case (a, b) => a * b }.sum
      }
    }
    val qq = Array.fill(64)(rnd.nextInt(255).toLong - 127L)
    val qqLit = Literal.create(qq, ArrayType(LongType, containsNull = false))
    val arrTy = ArrayType(FloatType, containsNull = false)
    val a = BoundReference(0, arrTy, nullable = false)
    // two qdots + a vec_dot in ONE generated function: freshName gate
    val proj = GenerateUnsafeProjection.generate(Seq(
      VectorExpressions.VecQDot(a, qqLit),
      VectorExpressions.VecQDot(a, Literal.create(qq.take(32),
        ArrayType(LongType, containsNull = false))),
      VectorExpressions.VecDot(a, a)))
    val x = vec(64)
    val out = proj(InternalRow(UnsafeArrayData.fromPrimitiveArray(x)))
    assert(out.getLong(0) == refQdot(x, qq))
    assert(out.getLong(1) == refQdot(x, qq.take(32))) // short query truncates
    val zero = Array.fill(64)(0.0f)
    val z = proj(InternalRow(UnsafeArrayData.fromPrimitiveArray(zero)))
    assert(z.getLong(0) == 0L) // m == 0 guard
    // interpreted eval agrees with codegen
    val e = VectorExpressions.VecQDot(
      Literal.create(x, ArrayType(FloatType)), qqLit)
    assert(e.eval(null).asInstanceOf[Long] == refQdot(x, qq))
  }

  test("vec_encode fails loudly on null array elements (no silent 0.0f)") {
    import spark.implicits._
    val df = Seq(Tuple1(Seq(Some(1.0f), None, Some(2.0f)))).toDF("v")
      .select(VectorOps.encodeVec(col("v").cast(
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))).as("b"))
    val e = intercept[Exception](df.collect())
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c => c.getMessage != null && c.getMessage.contains("vec_encode: null element")))
  }

  test("vec_qdot fails loudly on null array elements (no silent zeroed " +
    "dimension), interpreted and codegen") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}
    val qq = Array.tabulate(4)(i => i.toLong - 2L)
    val qqLit = Literal.create(qq, ArrayType(LongType, containsNull = false))
    val holey = Literal.create(
      Seq[java.lang.Float](1.0f, null, 2.0f, 3.0f),
      ArrayType(FloatType, containsNull = true))
    val interp = intercept[IllegalArgumentException](
      VectorExpressions.VecQDot(holey, qqLit).eval(null))
    assert(interp.getMessage.contains("vec_qdot: null element"))
    import spark.implicits._
    val df = Seq(Tuple1(Seq(Some(1.0f), None, Some(2.0f), Some(3.0f))))
      .toDF("v")
      .select(VectorOps.qdotQueryNative(col("v").cast(
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)), qq).as("q"))
    val e = intercept[Exception](df.collect())
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("vec_qdot: null element")))
  }

  test("interpreted eval (nullSafeEval) agrees with codegen") {
    val a = vec(64); val b = vec(64)
    val e = VectorExpressions.VecDot(
      org.apache.spark.sql.catalyst.expressions.Literal.create(a,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(b,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))
    assert(e.eval(null).asInstanceOf[Double] == VectorOps.dot(a, b))
  }

  test("gram_inter_sorted == size(array_intersect) on sorted distinct " +
    "string arrays (d15/d16's verification kernel, codegen AND " +
    "interpreted paths)") {
    import spark.implicits._
    val words = (0 until 60).map(i => s"w${i}_tok")
    def randSet(): Seq[String] =
      rnd.shuffle(words).take(1 + rnd.nextInt(40)).distinct
    val pairs = Seq.fill(200)((randSet(), randSet())) :+
      (Seq.empty[String], Seq("a")) :+ (Seq("a"), Seq.empty[String]) :+
      (Seq.empty[String], Seq.empty[String]) :+
      // non-ASCII + prefix-of-each-other cases exercise byte-order ties
      (Seq("a", "ab", "abc", "é"), Seq("ab", "é", "z"))
    val rows = pairs.toDF("a", "b")
      .select(expr("gram_inter_sorted(sort_array(a), sort_array(b)) AS g"),
        expr("CAST(size(array_intersect(a, b)) AS BIGINT) AS r"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    // interpreted eval agrees
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val e = VectorExpressions.StrSortedInterSize(
      Literal.create(Seq("a", "b", "c"), ArrayType(StringType)),
      Literal.create(Seq("b", "c", "d"), ArrayType(StringType)))
    assert(e.eval(null).asInstanceOf[Long] == 2L)
  }

  test("gram_inter_sorted skips null elements and equals " +
    "size(array_intersect) on inputs with nulls (codegen AND interpreted)") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    // non-null elements ascending; nulls first (sort_array), last
    // (array_sort) or in between
    val cases: Seq[(Seq[String], Seq[String])] = Seq(
      (Seq(null, "a", "b"), Seq(null, "b")),
      (Seq(null, "a"), Seq("a", "c")),
      (Seq("a", "b"), Seq(null, "b")),
      (Seq(null), Seq(null)),
      (Seq(null), Seq.empty),
      (Seq("a", "b", null), Seq("z", null)),
      (Seq("a", "b", "c", null), Seq(null)),
      (Seq("a", null, "c"), Seq("c", null)),
      (Seq(null, null, "a"), Seq("a")))
    val want = cases.toDF("a", "b")
      .select(expr("CAST(size(array_intersect(a, b)) AS BIGINT)"))
      .collect().map(_.getLong(0)).toSeq
    assert(want.take(4) == Seq(2L, 1L, 1L, 1L)) // nulls really counted
    val e = VectorExpressions.StrSortedInterSize(
      BoundReference(0, ArrayType(StringType), nullable = true),
      BoundReference(1, ArrayType(StringType), nullable = true))
    val codegen = GenerateUnsafeProjection.generate(Seq(e))
    def arr(xs: Seq[String]) = new GenericArrayData(
      xs.map(x => if (x == null) null else UTF8String.fromString(x)).toArray[Any])
    cases.zip(want).foreach { case ((a, b), w) =>
      val row = InternalRow(arr(a), arr(b))
      assert(e.eval(row) == w, (a, b))
      assert(codegen(row).getLong(0) == w, (a, b))
    }
    // through SQL on sorted inputs
    val viaSql = cases.toDF("a", "b")
      .select(expr("gram_inter_sorted(sort_array(a), sort_array(b))"))
      .collect().map(_.getLong(0)).toSeq
    assert(viaSql == want)
  }

  // The packed PQ kernels' guards, each checked on BOTH evaluation paths:
  // `eval` (nullSafeEval) and the generated code, which
  // GenerateUnsafeProjection compiles without an interpreted fallback.
  private object PqGuards {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType}

    val floats = ArrayType(FloatType, containsNull = true)
    def vecRef(i: Int) = BoundReference(i, floats, nullable = false)
    val wordRef = BoundReference(0, LongType, nullable = false)
    val lutRef = BoundReference(1, ArrayType(DoubleType, containsNull = false), nullable = false)
    def floatArr(xs: Seq[java.lang.Float]) = new GenericArrayData(xs.toArray[Any])
    def doubleArr(xs: Seq[Double]) = new GenericArrayData(xs.toArray[Any])

    /** The generated-code path, compiled without an interpreted fallback. */
    def codegen(e: Expression) = GenerateUnsafeProjection.generate(Seq(e))

    /** The message each path throws for `row`, which must be an
      * IllegalArgumentException on both. */
    def failures(e: Expression, row: InternalRow): Seq[String] = {
      val interp = intercept[IllegalArgumentException](e.eval(row))
      val gen = intercept[IllegalArgumentException](codegen(e)(row))
      Seq(interp.getMessage, gen.getMessage)
    }

    // m = 2 subspaces of 2 dims, k = 2 centroids: 8 codebook floats
    val cb = floatArr(Seq.tabulate(8)(i => java.lang.Float.valueOf(i.toFloat)))
  }

  test("vec_pq_encode_packed fails loudly on a dims mismatch, interpreted " +
    "and codegen") {
    import PqGuards._
    import org.apache.spark.sql.catalyst.InternalRow
    val e = VectorExpressions.VecPqEncodePacked(vecRef(0), vecRef(1), 2, 2)
    Seq(3, 5).foreach { n =>
      val row = InternalRow(floatArr(Seq.fill(n)(java.lang.Float.valueOf(1f))), cb)
      failures(e, row).foreach(msg => assert(msg.contains(
        s"vec_pq_encode_packed: vector has $n dims, codebook expects exactly 4"), msg))
    }
    // the well-formed row encodes on both paths alike
    val ok = InternalRow(floatArr(Seq[java.lang.Float](0f, 1f, 6f, 7f)), cb)
    val want = 0L | (1L << 1) // subspace 0 -> centroid 0, subspace 1 -> centroid 1
    assert(e.eval(ok) == want)
    assert(codegen(e)(ok).getLong(0) == want)
  }

  test("vec_pq_encode_packed fails loudly on a null element, interpreted " +
    "and codegen") {
    import PqGuards._
    import org.apache.spark.sql.catalyst.InternalRow
    val e = VectorExpressions.VecPqEncodePacked(vecRef(0), vecRef(1), 2, 2)
    val row = InternalRow(floatArr(Seq[java.lang.Float](1f, 2f, null, 4f)), cb)
    failures(e, row).foreach(msg =>
      assert(msg.contains("vec_pq_encode_packed: null element at index 2"), msg))
  }

  test("vec_pq_adc_packed fails loudly on an out-of-range code, " +
    "interpreted and codegen") {
    import PqGuards._
    import org.apache.spark.sql.catalyst.InternalRow
    // k = 10 leaves nibble values 10..15 unused: code 12 in subspace 0
    // indexes inside the LUT (subspace 1's entry), so only the k bound
    // catches it
    val e10 = VectorExpressions.VecPqAdcPacked(wordRef, lutRef, 2, 10)
    val row10 = InternalRow(12L | (3L << 4), doubleArr(Seq.tabulate(20)(_.toDouble)))
    failures(e10, row10).foreach(msg => assert(msg.contains(
      "vec_pq_adc_packed: code 12 at subspace 0 out of range (k=10)"), msg))
    // a LUT shorter than m·k: subspace 1's entries are missing
    val e16 = VectorExpressions.VecPqAdcPacked(wordRef, lutRef, 2, 16)
    val row16 = InternalRow(5L | (1L << 4), doubleArr(Seq.tabulate(16)(_.toDouble)))
    failures(e16, row16).foreach(msg => assert(msg.contains(
      "vec_pq_adc_packed: code 1 at subspace 1 out of range (k=16)"), msg))
    // in range: lut(0·10 + 3) + lut(1·10 + 7)
    val ok = InternalRow(3L | (7L << 4), doubleArr(Seq.tabulate(20)(_.toDouble)))
    assert(e10.eval(ok) == 20.0)
    assert(codegen(e10)(ok).getDouble(0) == 20.0)
  }

  test("packed PQ kernels reject m·bits > 64 at construction, directly " +
    "and through the SQL function registry") {
    import PqGuards._
    val enc = intercept[IllegalArgumentException](
      VectorExpressions.VecPqEncodePacked(vecRef(0), vecRef(1), 17, 16))
    assert(enc.getMessage.contains(
      "vec_pq_encode_packed: m=17 codes of 4 bits exceed one BIGINT"), enc.getMessage)
    val adc = intercept[IllegalArgumentException](
      VectorExpressions.VecPqAdcPacked(wordRef, lutRef, 9, 256))
    assert(adc.getMessage.contains(
      "vec_pq_adc_packed: m=9 codes of 8 bits exceed one BIGINT"), adc.getMessage)
    // m = 16, k = 16 is exactly 64 bits and builds
    VectorExpressions.VecPqEncodePacked(vecRef(0), vecRef(1), 16, 16)
    VectorExpressions.VecPqAdcPacked(wordRef, lutRef, 16, 16)
    import spark.implicits._
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    val viaSql = intercept[Exception](
      Seq(Tuple1(Array.fill(68)(1f))).toDF("v")
        .select(VectorOps.pqEncodePacked(col("v"), Array.fill(17 * 16 * 4)(0f), 17, 16))
        .collect())
    assert(causes(viaSql).exists(c => c.getMessage != null &&
      c.getMessage.contains("exceed one BIGINT")), viaSql)
  }
}
