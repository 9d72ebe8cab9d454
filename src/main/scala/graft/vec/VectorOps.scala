package graft.vec

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Vector math over `ARRAY<FLOAT>` columns and driver-side `Array[Float]`.
  *
  * Reference semantics (ramayer/rclip-server): pre-L2-normalized float32
  * embeddings are combined by signed weighted sum + L2 renormalization
  * (`rclip_server.py:136-141`) and scored by dot product — equal to cosine
  * because both sides are unit vectors (`rclip_server.py:196`).
  *
  * Numeric discipline: every accumulation happens in Double (float inputs
  * widened exactly), so results are stable to ~1e-15 across evaluation
  * orders. Query results round scores to 4 decimals on both the Spark and
  * the DuckDB-oracle side, far above that noise floor.
  *
  * Column-level variants are Scala UDFs over `Array[Float]` with tight
  * while-loops — measurably faster than interpreted higher-order-function
  * lambdas (`aggregate`/`zip_with`) at d=512 (SURVEY §4.3). A codegen'd
  * Catalyst Expression is the upgrade path if BENCH shows the UDF
  * dominating.
  */
object VectorOps {

  // ------------------------------------------------------------------
  // Driver-side Array[Float] math (term resolution, query combine)
  // ------------------------------------------------------------------

  def dot(a: Array[Float], b: Array[Float]): Double = {
    require(a.length == b.length, s"dim mismatch: ${a.length} vs ${b.length}")
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** The driver twin of the `vec_dot` expression: Double accumulation in
    * index order over the shorter length, bit-identical to the scored
    * scan's kernel. */
  def vecDot(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0; var i = 0
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** Rows per [[vecDot8]] pass. */
  val Block: Int = 8

  /** [[vecDot]] of `rows(from)` … `rows(from + 7)` against `q`, written to
    * `out(0)` … `out(7)`, bit-identical row by row; `qd` is `q` widened to
    * Double once per query. Each row still sums in index order, but the
    * eight sums are independent chains, so a pass is bound by multiply-add
    * throughput instead of one chain's add latency. A step is
    * `Math.fma(x, y, s)`: the product of two widened floats is exact in a
    * Double, so the single rounding of fma equals that of `s + x * y`.
    * When fewer than 8 rows remain, or a row's length differs from `q`'s,
    * every row of the block goes through [[vecDot]]. Returns the number of
    * rows scored.
    *
    * `Math.fma` is fast only as a HotSpot intrinsic (`UseFMA`, on by
    * default on x86-64 with FMA3 and on aarch64); without it the JDK falls
    * back to a BigDecimal computation, orders of magnitude slower. */
  def vecDot8(rows: Array[Array[Float]], from: Int, q: Array[Float],
      qd: Array[Double], out: Array[Double]): Int = {
    val n = math.min(Block, rows.length - from)
    val d = q.length
    var uniform = n == Block
    var j = 0
    while (uniform && j < Block) { uniform = rows(from + j).length == d; j += 1 }
    if (!uniform) {
      j = 0
      while (j < n) { out(j) = vecDot(rows(from + j), q); j += 1 }
    } else {
      val a0 = rows(from); val a1 = rows(from + 1)
      val a2 = rows(from + 2); val a3 = rows(from + 3)
      val a4 = rows(from + 4); val a5 = rows(from + 5)
      val a6 = rows(from + 6); val a7 = rows(from + 7)
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
      var s4 = 0.0; var s5 = 0.0; var s6 = 0.0; var s7 = 0.0
      var i = 0
      while (i < d) {
        val x = qd(i)
        s0 = Math.fma(a0(i).toDouble, x, s0)
        s1 = Math.fma(a1(i).toDouble, x, s1)
        s2 = Math.fma(a2(i).toDouble, x, s2)
        s3 = Math.fma(a3(i).toDouble, x, s3)
        s4 = Math.fma(a4(i).toDouble, x, s4)
        s5 = Math.fma(a5(i).toDouble, x, s5)
        s6 = Math.fma(a6(i).toDouble, x, s6)
        s7 = Math.fma(a7(i).toDouble, x, s7)
        i += 1
      }
      out(0) = s0; out(1) = s1; out(2) = s2; out(3) = s3
      out(4) = s4; out(5) = s5; out(6) = s6; out(7) = s7
    }
    n
  }

  /** Spark's `round(x, 4)` on a double: HALF_UP at 4 decimals of the
    * shortest decimal representation. */
  def round4(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  def l2norm(a: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * a(i).toDouble; i += 1 }
    math.sqrt(s)
  }

  /** v / ||v||2; zero vector returned unchanged (cannot normalize). */
  def normalize(a: Array[Float]): Array[Float] = {
    val n = l2norm(a)
    if (n == 0.0) a.clone()
    else {
      val out = new Array[Float](a.length); var i = 0
      while (i < a.length) { out(i) = (a(i) / n).toFloat; i += 1 }
      out
    }
  }

  def scale(a: Array[Float], w: Float): Array[Float] = {
    val out = new Array[Float](a.length); var i = 0
    while (i < a.length) { out(i) = a(i) * w; i += 1 }
    out
  }

  def add(a: Array[Float], b: Array[Float]): Array[Float] = {
    require(a.length == b.length)
    val out = new Array[Float](a.length); var i = 0
    while (i < a.length) { out(i) = a(i) + b(i); i += 1 }
    out
  }

  /** Signed weighted sum + L2-normalize — the reference's query-combine
    * (`rclip_server.py:136-141`). Empty input → None (`:138-139`). */
  def combine(terms: Seq[(Float, Array[Float])]): Option[Array[Float]] =
    terms match {
      case Seq() => None
      case ts =>
        val acc = new Array[Float](ts.head._2.length)
        ts.foreach { case (w, v) =>
          var i = 0
          while (i < acc.length) { acc(i) += w * v(i); i += 1 }
        }
        Some(normalize(acc))
    }

  // ------------------------------------------------------------------
  // Column-level ops (executor-side scoring)
  // ------------------------------------------------------------------

  /** Cosine similarity between two vector columns (not assumed unit). */
  val cosineCols: (Column, Column) => Column = {
    val f = udf { (a: Array[Float], b: Array[Float]) =>
      if (a == null || b == null) null
      else {
        var sab = 0.0; var sa = 0.0; var sb = 0.0; var i = 0
        val n = math.min(a.length, b.length)
        while (i < n) {
          val x = a(i).toDouble; val y = b(i).toDouble
          sab += x * y; sa += x * x; sb += y * y; i += 1
        }
        val d = math.sqrt(sa) * math.sqrt(sb)
        java.lang.Double.valueOf(if (d == 0.0) 0.0 else sab / d)
      }
    }
    (a: Column, b: Column) => f(a, b)
  }

  /** Render a float vector as a SQL DOUBLE[] literal whose parsed value is
    * bit-identical to the Double-widened floats used on the Spark side
    * (Double.toString round-trips exactly). */
  def sqlDoubleArray(v: Array[Float]): String =
    v.map(x => x.toDouble.toString).mkString("[", ",", "]::DOUBLE[]")

  // ------------------------------------------------------------------
  // Codegen'd variants (graft.expr.VectorExpressions) — same Double
  // index-order arithmetic as the UDFs, but evaluated inside
  // WholeStageCodegen straight off ArrayData (no per-row array copy).
  // Require the functions to be registered (Sessions sets
  // spark.sql.extensions; ensureRegistered covers foreign sessions).
  // ------------------------------------------------------------------

  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.functions.{call_function, typedlit}

  def ensureRegistered(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    graft.expr.VectorExpressions.all.foreach { case (id, info, builder) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, builder)
    }
  }

  /** Codegen dot against a fixed query vector (array literal in-plan). */
  def dotQueryNative(v: Column, q: Array[Float]): Column =
    call_function("vec_dot", v, typedlit(q))

  /** Codegen normalize-then-dot of an ARRAY<DOUBLE> accumulator (vecSum
    * centroid) against a fixed fp32 query — the centroid-probe kernel
    * (vec_ndot); replaces the interpreted dotNormalized UDF. */
  def ndotQueryNative(v: Column, q: Array[Float]): Column =
    call_function("vec_ndot", v, typedlit(q))

  /** Codegen int8-quantized dot against pre-quantized query codes
    * (vec_qdot — the v06/n05 coarse kernel). */
  def qdotQueryNative(v: Column, qq: Array[Long]): Column =
    call_function("vec_qdot", v, typedlit(qq))

  /** Codegen dot / cosine between two vector columns. */
  def dotColsNative(a: Column, b: Column): Column =
    call_function("vec_dot", a, b)
  def cosineColsNative(a: Column, b: Column): Column =
    call_function("vec_cosine", a, b)
  def normColNative(a: Column): Column =
    call_function("vec_norm", a)
  /** Codegen exact micro² squared norm (vec_nrm2_micro — v09's kernel). */
  def nrm2MicroNative(a: Column): Column =
    call_function("vec_nrm2_micro", a)

  /** Reference BLOB storage codec (`index_wikimedia.py:64`,
    * `rclip_server.py:215`): dim little-endian float32 words. */
  def encodeVec(a: Column): Column = call_function("vec_encode", a)
  def decodeVec(a: Column): Column = call_function("vec_decode", a)

  /** Product-quantization kernels (vec_pq_encode_packed /
    * vec_pq_adc_packed): all m codes in one BIGINT, 8 B/row — the
    * `graft.ann.IvfPqIndex` artifact form and the n06/n07/n15 path. The
    * flat codebook is laid out `[(mm·k + j)·sub + dd]`; the LUT
    * `[mm·k + j]`. */
  def pqEncodePacked(v: Column, flatCb: Array[Float], m: Int, k: Int): Column =
    call_function("vec_pq_encode_packed", v, typedlit(flatCb),
      org.apache.spark.sql.functions.lit(m), org.apache.spark.sql.functions.lit(k))
  def pqAdcPacked(code: Column, flatLut: Array[Double], m: Int, k: Int): Column =
    call_function("vec_pq_adc_packed", code, typedlit(flatLut),
      org.apache.spark.sql.functions.lit(m), org.apache.spark.sql.functions.lit(k))
}
