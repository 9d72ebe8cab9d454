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

  /** Dot product of a vector column against a fixed query vector. The
    * query travels to executors inside the UDF closure (one broadcast of
    * ~2 KiB), not as a per-row literal. */
  def dotQuery(v: Column, q: Array[Float]): Column = {
    val f = udf { (arr: Array[Float]) =>
      if (arr == null) null else java.lang.Double.valueOf(vecDot(arr, q))
    }
    f(v)
  }

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

  /** L2 norm of a vector column. */
  def normCol(v: Column): Column = {
    val f = udf { (arr: Array[Float]) =>
      if (arr == null) null else java.lang.Double.valueOf(l2norm(arr))
    }
    f(v)
  }

  /** L2-normalize a vector column. */
  def normalizeCol(v: Column): Column = {
    val f = udf { (arr: Array[Float]) =>
      if (arr == null) null else normalize(arr)
    }
    f(v)
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

  /** Product-quantization kernels (vec_pq_encode / vec_pq_adc — the
    * `graft.ann.PqIndex` + n06 path). The flat codebook is laid out
    * `[(mm·k + j)·sub + dd]`; the LUT `[mm·k + j]`. */
  def pqEncode(v: Column, flatCb: Array[Float], m: Int, k: Int): Column =
    call_function("vec_pq_encode", v, typedlit(flatCb),
      org.apache.spark.sql.functions.lit(m), org.apache.spark.sql.functions.lit(k))
  def pqAdc(codes: Column, flatLut: Array[Double], k: Int): Column =
    call_function("vec_pq_adc", codes, typedlit(flatLut),
      org.apache.spark.sql.functions.lit(k))

  /** Packed PQ kernels: all m codes in one BIGINT (8 B/row storage —
    * the PqIndex artifact form). */
  def pqEncodePacked(v: Column, flatCb: Array[Float], m: Int, k: Int): Column =
    call_function("vec_pq_encode_packed", v, typedlit(flatCb),
      org.apache.spark.sql.functions.lit(m), org.apache.spark.sql.functions.lit(k))
  def pqAdcPacked(code: Column, flatLut: Array[Double], m: Int, k: Int): Column =
    call_function("vec_pq_adc_packed", code, typedlit(flatLut),
      org.apache.spark.sql.functions.lit(m), org.apache.spark.sql.functions.lit(k))
}
