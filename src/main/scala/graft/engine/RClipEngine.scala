package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.agg.VectorAggregators
import graft.embed.Embedder
import graft.vec.VectorOps

/** Per-dimension visualization cell (reference heat-map,
  * `rclip_server.py:253-273`). */
final case class DimCell(dim: Int, value: Float, norm01: Double, color: String)

/** `/thm/{id}` outcome, minus HTTP (`rclip_server.py:448-479`): the id −1
  * placeholder, a size-rewritten CDN redirect, or locally resized bytes. */
sealed trait Thumb
final case class SvgPlaceholder(svg: String) extends Thumb
final case class RedirectUrl(url: String) extends Thumb
final case class ResizedBytes(bytes: Array[Byte]) extends Thumb

/** The engine façade — one method per reference endpoint (SURVEY §2.11):
  * search (K1), similarWords (K2), similarPhrases (W1–W3),
  * resolveEmbedding / textEmbedding, visualize, censor (M1), dedup (M2/A6),
  * upsert (S7), reload (M3), stats (A1–A4).
  *
  * State model: the images table lives in a [[SnapshotStore]]; all the
  * engine serves from is one immutable epoch in one `AtomicReference` (the
  * reference's one startup scan + dense matrix, `rclip_server.py:59-66`):
  * the cached live view of the newest base data version, the deletion set
  * over it and the view without those ids, the stats, the RAM-matrix and
  * ANN serving states, the word table and map, and a term resolver whose
  * LRU lives and dies with the epoch. A request reads the epoch once and
  * resolves, looks up and scores against it. Each mutation holds the
  * engine monitor and sets the next epoch, keeping only what it leaves
  * valid: a censor commits a deletion set over the same cached base and
  * patches a built RAM matrix; dedup and upsert write a new snapshot and
  * [[reload]]. The word table comes from the cached base view before the
  * deletion set, so a censor keeps it and only a new base data version
  * re-derives it (lazily). Builds and stats run off the monitor and
  * install only into the generation they read.
  *
  * Scale: the scored scan is embarrassingly parallel over cached
  * partitions; top-k is TakeOrderedAndProject (per-partition heap,
  * k-bounded driver merge); the only driver-side vectors are the query
  * vector and the word table's centroids.
  */
final class RClipEngine(
    spark: SparkSession,
    store: SnapshotStore,
    val embedder: Embedder,
    wordsSource: Option[DataFrame] = None,
    idCol: String = "vec_id",
    vecCol: String = "embedding",
    censorKey: Option[String] = None,
    seed: Long = 42L,
    pathLike: Option[String] = None,
    wordMapMax: Long = RClipEngine.WordMapMax,
    fastPathMaxRows: Long = RClipEngine.FastPathMaxRows,
    annServing: Option[RClipEngine.AnnServing] = None) extends StoredVectors {

  import spark.implicits._
  import RClipEngine.{AnnBuilding, AnnBuilt, AnnDisabled, AnnState, AnnUnbuilt,
    FastBuilding, FastBuilt, FastDisabled, FastIndex, FastState, FastUnbuilt}

  // all scoring below uses the codegen vec_dot expression (same plan shape
  // the oracle queries are PlanSpec-locked to); register for foreign
  // sessions that didn't come through graft.Sessions
  VectorOps.ensureRegistered(spark)

  // ---------------------------------------------------------------- state

  /** One serving state (see the class doc); `stats`, `fast` and `ann` are
    * filled in by [[install]] within the same generation. */
  private case class Epoch(
      gen: Long,
      base: String,
      cached: DataFrame,
      deleted: Set[Long],
      active: DataFrame,
      words: Words,
      resolver: TermResolver,
      stats: Option[(Array[Double], Array[Double])],
      fast: FastState,
      ann: AnnState) extends StoredVectors {

    def resolve(q: String): Option[Array[Float]] = resolver.resolve(q, this)

    /** From the RAM matrix when it is built (the first row with this id,
      * in the collect order the Spark lookup's `headOption` also sees; no
      * job), otherwise one Spark filter job. Never builds the matrix. */
    def byId(id: Long): Option[Array[Float]] = fast match {
      case FastBuilt(idx) =>
        var r = 0
        while (r < idx.ids.length && idx.ids(r) != id) r += 1
        if (r == idx.ids.length) None else Some(idx.vecs(r).clone())
      case _ =>
        active.filter(col(idCol) === id).select(col(vecCol))
          .as[Array[Float]].collect().headOption
    }

    def random(): Option[Array[Float]] =
      active.select(col(vecCol)).orderBy(rand(seed)).limit(1)
        .as[Array[Float]].collect().headOption
  }

  /** A word table and its driver map: the supplied table, or the
    * per-label centroids of one base's cached live rows. Derived on first
    * use and shared by every epoch over that base. */
  private final class Words(source: => DataFrame) {
    @volatile private var derived = false

    lazy val table: DataFrame = {
      derived = true
      WordTable.lowercaseOnly(source).cache()
    }

    /** Bounded driver word map (VERDICT r03 #3): the reference keeps its
      * whole word matrix in RAM (`rclip_server.py:306-308`), but
      * "vocabulary-sized" is an assumption, so the collect is capped like
      * every other driver-side materialization here. Over the cap: `None`,
      * and [[lookup]] filters the cached table per query instead — bounded
      * by the query's token count, never the vocabulary. */
    lazy val map: Option[Map[String, Array[Float]]] =
      if (table.count() <= wordMapMax)
        Some(table.select(col("word"), col("vector"))
          .as[(String, Array[Float])].collect().toMap)
      else {
        org.slf4j.LoggerFactory.getLogger(classOf[RClipEngine]).warn(
          s"words table exceeds wordMapMax=$wordMapMax rows — " +
            "falling back to per-query word lookups instead of a driver map")
        None
      }

    /** Token → vector lookups, multiplicity- and order-preserving on both
      * paths (duplicate query tokens contribute their vector twice,
      * exactly like the driver-map path — the phrase estimate depends on
      * it). */
    private def lookup(toks: Array[String]): Array[Array[Float]] = map match {
      case Some(m) => toks.flatMap(m.get)
      case None =>
        val found = table
          .filter(col("word").isin(toks.distinct.toSeq: _*))
          .select(col("word"), col("vector"))
          .as[(String, Array[Float])].collect().toMap
        toks.flatMap(found.get)
    }

    /** Embedder that resolves via the word table first (the reference's
      * own precomputed-words mode), falling back to the base embedder. */
    val embedder: Embedder = new Embedder {
      val dim: Int = RClipEngine.this.embedder.dim
      def embedText(text: String): Array[Float] = {
        val toks = text.toLowerCase.split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty)
        val known = lookup(toks)
        if (known.isEmpty) RClipEngine.this.embedder.embedText(text)
        else VectorOps.normalize(known.reduce(VectorOps.add))
      }
      def embedImage(bytes: Array[Byte]): Array[Float] =
        RClipEngine.this.embedder.embedImage(bytes)
    }

    def drop(): Unit = if (derived) { table.unpersist(); () }
  }

  private val supplied: Option[Words] = wordsSource.map(ws => new Words(ws))

  private val epoch = new java.util.concurrent.atomic.AtomicReference[Epoch](load(0L, None))

  /** Scan + soft-delete filter (S1/P2) of the newest snapshot's BASE data
    * version: `deleted IS NULL OR NOT deleted`, exact three-valued logic,
    * plus the reference's optional parameterized `filepath LIKE` scan
    * restriction (`rclip_server.py:206-212`) — a plain Catalyst predicate,
    * so prefix patterns push down to the scan as StringStartsWith.
    * Requires a `filepath` column when set. Only this base view is cached;
    * the deletion set applies on top. `prior`'s word table is kept when its
    * base is the same. */
  private def load(gen: Long, prior: Option[Epoch]): Epoch = {
    val (raw, version) = store.readBase(spark)
    // S1 BLOB variant: the reference stores vectors as BLOBs of
    // little-endian float32 and decodes at scan (`rclip_server.py:215`);
    // a BinaryType vector column gets the same treatment via the codegen
    // vec_decode, so reference-format snapshots work unmodified.
    val df =
      if (raw.schema(vecCol).dataType == org.apache.spark.sql.types.BinaryType)
        raw.withColumn(vecCol, VectorOps.decodeVec(col(vecCol)))
      else raw
    val live =
      if (df.columns.contains("deleted"))
        df.filter(col("deleted").isNull || col("deleted") === false)
      else df
    val cached = pathLike.fold(live)(p => live.filter(col("filepath").like(p))).cache()
    val words = prior.filter(_.base == version.base).map(_.words)
      .orElse(supplied)
      .getOrElse(new Words(WordTable.labelCentroids(cached, vecCol = vecCol)))
    epochOf(gen, version.base, cached, version.deletedIds, words, FastUnbuilt)
  }

  /** A new generation: a fresh resolver LRU, no stats, no ANN index, and
    * the active view = `cached` minus `deleted` (a null id is kept, as
    * [[SnapshotStore.markDeleted]]'s fold keeps it). */
  private def epochOf(gen: Long, base: String, cached: DataFrame, deleted: Set[Long],
      words: Words, fast: FastState): Epoch =
    Epoch(gen, base, cached, deleted,
      if (deleted.isEmpty) cached
      else cached.filter(col(idCol).isNull || !col(idCol).isin(deleted.toSeq.sorted: _*)),
      words, new TermResolver(words.embedder, this), None, fast,
      if (annServing.isEmpty) AnnDisabled else AnnUnbuilt)

  /** Apply `f` to the current epoch only while it is still generation
    * `gen`: how a build or a stats aggregate, run off the monitor, lands
    * in the state it was computed from and never in a later one. */
  private def install(gen: Long)(f: Epoch => Epoch): Epoch =
    epoch.updateAndGet(c => if (c.gen == gen) f(c) else c)

  /** Build one serving index of epoch `e` off the engine monitor, so a
    * corpus-sized build never blocks a mutation or a request (VERDICT r08
    * next-#3): claim the slot `unbuilt` → `claim` (a Building state naming
    * `e.gen`; a caller finding it serves the fallback regime), build, and
    * install only while the epoch is generation `e.gen` with the claim in
    * place, so an index of a superseded snapshot never installs. A build
    * that throws resets the claim. Returns the built state, which is `e`'s
    * whether or not it installed; None if the claim was lost. */
  private def claimed[S](e: Epoch, slot: Epoch => S, put: (Epoch, S) => Epoch,
      unbuilt: S, claim: S)(build: => S): Option[S] = {
    var won = false
    install(e.gen) { c =>
      won = slot(c) == unbuilt
      if (won) put(c, claim) else c
    }
    if (!won) None
    else {
      def settle(s: S): Unit = {
        install(e.gen)(c => if (slot(c) == claim) put(c, s) else c); ()
      }
      val built = try build catch { case t: Throwable => settle(unbuilt); throw t }
      settle(built)
      Some(built)
    }
  }

  /** Live (non-deleted) rows, cached. */
  def images: DataFrame = epoch.get.active

  def count(): Long = epoch.get.active.count()

  /** M3: drop the cached view and re-read the newest snapshot into a new
    * epoch, which also dooms any in-flight index build. The word table
    * survives only if the base data version did. */
  def reload(): Unit = synchronized {
    val e = epoch.get
    e.cached.unpersist()
    val next = load(e.gen + 1, Some(e))
    epoch.set(next)
    if (next.words ne e.words) e.words.drop()
  }

  // ---------------------------------------------------------------- words

  /** Words table (S3): supplied, or derived per-label centroids of the
    * current base. */
  def words: DataFrame = epoch.get.words.table

  /** The current epoch's term resolver and its LRU. */
  def resolver: TermResolver = epoch.get.resolver

  // ------------------------------------------------- StoredVectors (J2/Q7)

  override def byId(id: Long): Option[Array[Float]] = epoch.get.byId(id)

  override def random(): Option[Array[Float]] = epoch.get.random()

  // ---------------------------------------------------------------- reads

  /** K1 — the flagship: resolve the query, score every live row by dot
    * product (== cosine, both sides unit), return top-`num` by
    * (score DESC, id ASC). Empty parse → empty result (Q11).
    *
    * Serving latency: the distributed scored scan is one Spark job, and
    * even fully warm a local job dispatch costs ~0.1 s (Bench's own
    * empty-job calibration) — fine for batch, visible to an interactive
    * `/search_api` caller. Below [[fastPathMaxRows]] live rows the
    * engine therefore serves from a DRIVER-RESIDENT (id, vector) matrix
    * — exactly the reference's own design (its whole corpus is one RAM
    * ndarray scored with a dense matmul, `rclip_server.py:228,194-198`)
    * — with BIT-IDENTICAL results (same index-order Double dot, same
    * HALF_UP 4-dp round, same (score DESC, id ASC) cut; EngineSpec pins
    * fast == distributed on the real corpus). Above the cap: the
    * distributed path, unchanged. */
  def search(q: String, num: Int = 12): DataFrame = {
    val e = epoch.get
    e.resolve(q) match {
      case None => noHits
      case Some(v) => fastIndex(e) match {
        case Some(idx) => fastScore(idx, v, num).toSeq.toDF("id", "score")
        case None => distributed(e, v, num)
      }
    }
  }

  /** Typed serving twin of [[search]]: the same resolve → score → top-k,
    * returned as driver rows with NO DataFrame wrap — on the fast path
    * this never touches the query planner, so a warm interactive request
    * is pure arithmetic (sub-millisecond; `search()`'s 12-row local
    * DataFrame still pays ~15 ms of per-request planning). The HTTP
    * layer serves `/search_api` from this. Distributed fallback collects
    * the same k-bounded [[scoreTopK]], so results are identical to
    * `search()` in both regimes. */
  def searchRows(q: String, num: Int = 12): Seq[(Long, Double)] = {
    val e = epoch.get
    e.resolve(q) match {
      case None => Seq.empty
      case Some(v) => fastIndex(e) match {
        case Some(idx) => fastScore(idx, v, num).toSeq
        case None => distributed(e, v, num).as[(Long, Double)].collect().toSeq
      }
    }
  }

  /** EXACT search regardless of regime: the distributed brute scored
    * scan, the fallback an above-cap ANN caller uses to trade latency
    * back for guaranteed-exact results (and the ground truth the ANN
    * path's recall is measured against). Below the cap this equals
    * `search()` bit-for-bit (EngineSpec pins fast ≡ distributed). */
  def searchExact(q: String, num: Int = 12): DataFrame = {
    val e = epoch.get
    e.resolve(q) match {
      case None => noHits
      case Some(v) => scoreTopK(e.active, v, num)
    }
  }

  /** Above the fast cap: the ANN ranking when an index serves `e`, else
    * the brute scored scan. */
  private def distributed(e: Epoch, v: Array[Float], num: Int): DataFrame =
    annIndex(e).fold(scoreTopK(e.active, v, num))(annTopK(e, _, v, num))

  /** The empty (id, score) result of a query that resolves to nothing. */
  private lazy val noHits: DataFrame = spark.emptyDataFrame
    .withColumn("id", lit(null).cast("long"))
    .withColumn("score", lit(null).cast("double"))
    .limit(0)

  private def scoreTopK(df: DataFrame, v: Array[Float], k: Int): DataFrame =
    df.select(col(idCol).as("id"),
        round(VectorOps.dotQueryNative(col(vecCol), v), 4).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)

  /** The driver-resident matrix of epoch `e`, built on first use through
    * [[claimed]]; None = corpus over the cap or a build in flight (serve
    * distributed: bit-identical, EngineSpec-pinned). One collect of
    * n·(8 + 4·dim) bytes — the RAM envelope the reference pays up front. */
  private def fastIndex(e: Epoch): Option[FastIndex] = e.fast match {
    case FastBuilt(idx) => Some(idx)
    case FastUnbuilt =>
      claimed[FastState](e, _.fast, (c, s) => c.copy(fast = s), FastUnbuilt,
          FastBuilding(e.gen)) {
        if (e.active.count() > fastPathMaxRows) FastDisabled
        else {
          val rows = e.active.select(col(idCol), col(vecCol))
            .as[(Long, Array[Float])].collect()
          FastBuilt(FastIndex(rows.map(_._1), rows.map(_._2)))
        }
      }.collect { case FastBuilt(idx) => idx }
    case _ => None // disabled, or a build in flight
  }

  /** Driver-side twin of [[scoreTopK]]: identical arithmetic
    * ([[VectorOps.vecDot8]], bit-identical to vec_dot;
    * [[VectorOps.round4]] = Spark's `round`) and the identical
    * (score DESC, id ASC) cut, taken by the shared k-bounded selector
    * [[TopK.byRoundedScore]] on the ROUNDED score — a row below the k-th
    * kept raw score can tie it after rounding and win on its lower id — so
    * the two paths are indistinguishable to a caller. Rows are scored one
    * 8-row block at a time into a fixed buffer, so a request allocates
    * nothing corpus-sized. */
  private def fastScore(idx: FastIndex,
      v: Array[Float], k: Int): Array[(Long, Double)] = {
    val qd = v.map(_.toDouble)
    val block = new Array[Double](VectorOps.Block)
    var at = -VectorOps.Block // first row of the block held in `block`
    val (rows, scores) = TopK.byRoundedScore(idx.ids.length, k, r => {
      if (r < at || r >= at + VectorOps.Block) {
        at = r - r % VectorOps.Block
        VectorOps.vecDot8(idx.vecs, at, v, qd, block)
      }
      block(r - at)
    }, (a, b) => idx.ids(a) < idx.ids(b))
    Array.tabulate(rows.length)(i => (idx.ids(rows(i)), scores(i)))
  }

  /** The ABOVE-CAP ANN serving regime (VERDICT r07 next-#2): opt-in via
    * [[RClipEngine.AnnServing]]. The reference brute-forces every search
    * against its whole RAM matrix (`rclip_server.py:194-198,228`) — fine
    * at its corpus size, and mirrored here below [[fastPathMaxRows]];
    * above the cap a full distributed scan per interactive request is
    * the first thing a user feels at 100× corpus. This regime serves it
    * from an [[graft.ann.IvfPqIndex]] over the LIVE rows instead:
    * partition-pruned packed-code ADC scan (nprobe/cells of the corpus
    * at 8 B/row) → exact fp32 rerank of `coarseK` candidates through the
    * SAME [[scoreTopK]] expression as the brute path — so every returned
    * id carries its exact brute-path score by construction; only the
    * candidate CUT is approximate (EngineSpec pins a recall floor, and
    * [[searchExact]] stays available as the exact fallback).
    *
    * Regime POLICY (VERDICT r08 next-#3): a search request never triggers
    * the minutes-long corpus build. It serves ANN when a TRUSTED artifact
    * exists (saved from this store version + config, attested by the
    * `_graft_built_from` marker; a cheap load), and brute otherwise; only
    * [[warm]] (`forceBuild`) builds. With `artifactPath` set, the built
    * index is SAVED and re-LOADED so the probe path is the persisted
    * cell-partitioned parquet layout — the shape a 1000-executor
    * deployment serves from (build once per snapshot, every search a
    * pruned point read). A mutation starts an epoch without the index and
    * a store version the marker no longer matches, so a censored row is
    * never served from a stale index. Built through [[claimed]]. */
  private def annIndex(e: Epoch, forceBuild: Boolean = false): Option[AnnBuilt] =
    e.ann match {
      case b: AnnBuilt => Some(b)
      case AnnUnbuilt =>
        val p = annServing.get
        val trusted = annArtifactTrusted(p)
        if (!trusted && !forceBuild) None // brute
        else claimed[AnnState](e, _.ann, (c, s) => c.copy(ann = s), AnnUnbuilt,
          AnnBuilding(e.gen))(buildAnn(e, p, trusted)).collect { case b: AnnBuilt => b }
      case _ => None // disabled, or a build in flight
    }

  private def buildAnn(e: Epoch, p: RClipEngine.AnnServing, trusted: Boolean): AnnBuilt = {
    val ix =
      if (trusted) graft.ann.IvfPqIndex.load(spark, p.artifactPath.get)
      else {
        // real Lloyd iterations on BOTH codebooks: the query-time
        // operators keep iters=0 for bitwise-reproducible oracles, but a
        // SERVING index's recall depends on cells that follow the data
        // geometry — nprobe/cells is only a meaningful pruning ratio when
        // near-neighbors share cells
        val built = graft.ann.IvfPqIndex.build(
          e.active.select(col(idCol), col(vecCol)),
          idCol = idCol, vecCol = vecCol,
          cells = p.cells, ivfIters = p.ivfIters,
          m = p.m, k = p.k, pqIters = p.pqIters)
        p.artifactPath match {
          case Some(path) =>
            built.save(path)
            java.nio.file.Files.writeString(
              new java.io.File(path, "_graft_built_from").toPath, annMarkerExpected(p))
            built.codes.unpersist()
            graft.ann.IvfPqIndex.load(spark, path)
          case None => built
        }
      }
    // RAM-COARSE regime: below driverCodesMaxRows also hold the 20 B/row
    // packed-code table driver-resident — the coarse cut then costs no
    // Spark dispatch at all (the 8 B codes fit the driver 32× past the
    // point the fp32 matrix cannot)
    val codeIdx =
      if (e.active.count() > p.driverCodesMaxRows) None
      else {
        val rows = ix.codes
          .select(col(idCol), col("cell"), col("code"))
          .as[(Long, Int, Long)].collect()
        Some(RClipEngine.CodeIndex(rows.map(_._1), rows.map(_._2), rows.map(_._3)))
      }
    AnnBuilt(ix, codeIdx)
  }

  /** The `_graft_built_from` marker ties a saved serving artifact to the
    * snapshot VERSION and index config it was built from: a mutation
    * commits a new store version, the marker stops matching, and the
    * stale artifact is ignored (brute serves until the next [[warm]])
    * rather than serving censored rows. */
  private def annMarkerExpected(p: RClipEngine.AnnServing): String =
    s"v=${store.latestVersion.getOrElse(-1)};path=${pathLike.getOrElse("")};" +
      s"id=$idCol;vec=$vecCol;cells=${p.cells};m=${p.m};k=${p.k};" +
      s"ivf=${p.ivfIters};pq=${p.pqIters}"

  private def annArtifactTrusted(p: RClipEngine.AnnServing): Boolean =
    p.artifactPath.exists { path =>
      val mk = new java.io.File(path, "_graft_built_from")
      mk.isFile && {
        try java.nio.file.Files.readString(mk.toPath) == annMarkerExpected(p)
        catch { case _: java.io.IOException => false }
      }
    }

  /** Pre-build the current epoch's serving index (VERDICT r08 next-#3):
    * call at startup and after mutations so no request ever pays (or waits
    * behind) a build. Below the fast cap this warms the RAM matrix; above
    * it, the ANN regime when configured (building and persisting the
    * artifact if absent or untrusted). A mutation racing the warm wins:
    * the half-built index never installs ([[claimed]]). */
  def warm(): Unit = {
    val e = epoch.get
    if (fastIndex(e).isEmpty) { annIndex(e, forceBuild = true); () }
  }

  /** Serving-state probe for specs and monitoring. */
  private[engine] def annState: AnnState = epoch.get.ann
  private[engine] def fastState: FastState = epoch.get.fast

  /** DRIFT MONITORING against the LIVE serving index (VERDICT r08
    * next-#4): one health row measuring what a deployment alarms on
    * between rebuilds — n10's recall@k of the serving ANN path vs the
    * exact brute ranking over the CURRENT live rows, and n13's cell
    * balance of the serving code table. `None` when no ANN index is
    * serving (brute and RAM-matrix regimes have nothing to drift).
    * Cost: |panel| reranked searches + |panel| exact scans + one
    * code-table aggregate — the measurement loop n10/n13 run as corpus
    * queries, pointed at the serving artifact. */
  def annHealth(panel: Seq[String], k: Int = 10): Option[RClipEngine.AnnHealth] = {
    val e = epoch.get
    e.ann match {
      case b: AnnBuilt if panel.nonEmpty =>
        val p = annServing.get
        val recalls = panel.flatMap { q =>
          e.resolve(q).map { v =>
            val truth = scoreTopK(e.active, v, k)
              .select(col("id")).as[Long].collect().toSet
            val got = annTopK(e, b, v, k)
              .select(col("id")).as[Long].collect().toSet
            if (truth.isEmpty) 1000L
            else (got & truth).size * 1000L / truth.size
          }
        }
        if (recalls.isEmpty) None
        else {
          val sizes = b.ix.codes.groupBy(col("cell"))
            .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
            .select(col("cell"), col("n")).as[(Int, Long)].collect()
          val rows = sizes.map(_._2).sum
          val nCells = b.ix.centroids.length
          val meanSz = rows.toDouble / math.max(1, nCells)
          val skew = if (rows == 0L) 0.0 else sizes.map(_._2).max / meanSz
          Some(RClipEngine.AnnHealth(
            recallPermille = recalls.sum / recalls.size,
            worstPermille = recalls.min,
            cellSkew = skew,
            emptyCells = nCells.toLong - sizes.length,
            rows = rows,
            alarm = recalls.sum / recalls.size < p.healthRecallFloorPermille ||
              skew > p.healthCellSkewMax))
        }
      case _ => None
    }
  }

  /** ANN top-k: pruned ADC candidates, then the exact rerank reuses
    * [[scoreTopK]] over the candidate-restricted live rows — identical
    * scoring expression, rounding, and (score DESC, id ASC) tie order
    * to the brute path, so the regimes differ only in which rows
    * survive the coarse cut. And the coarse cut itself is identical in
    * BOTH coarse modes: the RAM path runs [[graft.ann.PqIndex
    * .adcPacked]] (the expression's bit-exact driver twin) over the
    * same codes with the same (adc DESC, id ASC) order, so RAM-coarse,
    * distributed-coarse, and their reranks are indistinguishable to a
    * caller (EngineSpec pins all three equalities). */
  private def annTopK(e: Epoch, b: AnnBuilt, v: Array[Float],
      k: Int): DataFrame = {
    val p = annServing.get
    b.codeIdx match {
      case Some(ci) =>
        val lut = graft.ann.PqIndex.lut(b.ix.flatCodebook, b.ix.m, b.ix.k, v)
        val cand = RClipEngine.ramCoarseCut(ci, lut, b.ix.m, b.ix.k,
          b.ix.probeCells(v, p.nprobe), p.coarseK)
        scoreTopK(e.active.filter(col(idCol).isin(cand: _*)), v, k)
      case None =>
        val cand = b.ix.searchAdc(v, topk = p.coarseK, nprobe = p.nprobe)
          .select(col(idCol))
        scoreTopK(e.active.join(broadcast(cand), idCol), v, k)
    }
  }

  /** `/clip_embedding` — the resolved query vector. */
  def resolveEmbedding(q: String): Option[Array[Float]] = epoch.get.resolve(q)

  /** `/clip_text_embedding` — raw text-encoder output, no query algebra. */
  def textEmbedding(q: String): Array[Float] = epoch.get.words.embedder.embedText(q)

  /** K2 — top-`num` most similar words (`rclip_server.py:310-312,399`). */
  def similarWords(q: String, num: Int = 50): DataFrame = {
    val e = epoch.get
    e.resolve(q).fold(spark.emptyDataFrame.limit(0))(wordTopK(e, _, num))
  }

  private def wordTopK(e: Epoch, v: Array[Float], num: Int): DataFrame =
    e.words.table.select(col("word"),
        round(VectorOps.dotQueryNative(col("vector"), v), 4).as("score"))
      .orderBy(col("score").desc, col("word").asc)
      .limit(num)

  /** Typed serving twin of [[similarWords]] (the `/similar_words` word
    * half, `rclip_server.py:395-402`): when the vocabulary-sized word
    * map is driver-resident (the [[wordMapMax]] regime — the reference's
    * own RAM word matrix, `rclip_server.py:306-308`), score it directly
    * with [[VectorOps.vecDot]] + [[VectorOps.round4]] and cut with the
    * shared selector [[TopK.byRoundedScore]] on the rounded score, ties
    * by [[RClipEngine.utf8Compare]] (Spark's word ASC); over the cap,
    * collect the distributed ranking. EngineSpec pins map ≡ distributed. */
  def similarWordsRows(q: String, num: Int = 50): Seq[(String, Double)] = {
    val e = epoch.get
    e.resolve(q) match {
      case None => Seq.empty
      case Some(v) => e.words.map match {
        case Some(m) =>
          val (ws, vecs) = m.toArray.unzip
          RClipEngine.topTexts(ws, num, r => VectorOps.vecDot(vecs(r), v))
        case None =>
          wordTopK(e, v, num).as[(String, Double)].collect().toSeq
      }
    }
  }

  /** Typed serving twin of [[similarPhrases]] (estimate variant — the
    * endpoint's serving path; the `exact = true` re-encode trade stays
    * on the DataFrame API): pool ranking, seeded candidate draw, W1
    * vector-sum estimate, normalize, dot and the (score DESC, phrase
    * ASC) cut all run on the driver word map with arithmetic identical
    * to the distributed pipeline — the element-wise Double sums are
    * sums of float-widened values, exactly representable, so the
    * aggregate is addition-order-proof and the two paths agree bitwise
    * (EngineSpec pins it). Both cuts go through the shared selector with
    * [[RClipEngine.utf8Compare]] ties: the pool on the raw word score
    * (best-first, since the seeded draw indexes it by rank) and the final
    * cut on the rounded phrase score ([[TopK.byRoundedScore]]). Over
    * [[wordMapMax]]: distributed fallback. */
  def similarPhrasesRows(q: String, num: Int = 50,
      combosPerLen: Int = 1000, topWords: Int = 200): Seq[(String, Double)] = {
    val e = epoch.get
    e.resolve(q) match {
      case None => Seq.empty
      case Some(v) => e.words.map match {
        case None =>
          phraseTopK(e, v, num, combosPerLen, topWords, exact = false)
            .as[(String, Double)].collect().toSeq
        case Some(m) =>
          // pool: same raw (un-rounded) score ordering as the DataFrame
          val (ws, wvs) = m.toArray.unzip
          val top = new TopK(topWords, ws.length,
            (a, b) => RClipEngine.utf8Compare(ws(a), ws(b)) < 0)
          ws.indices.foreach(r => top.offer(VectorOps.vecDot(wvs(r), v), r))
          val pool = top.drain()._1.map(ws)
          val scored = phraseCandidates(pool, combosPerLen).flatMap { phrase =>
            val vecs = phrase.split(" ").flatMap(m.get)
            if (vecs.isEmpty) None // no known word: the join drops it too
            else {
              val sum = new Array[Double](vecs.head.length)
              vecs.foreach { e =>
                var i = 0
                while (i < sum.length && i < e.length) {
                  sum(i) += e(i).toDouble; i += 1
                }
              }
              Some((phrase, VectorOps.vecDot(VectorOps.normalize(sum.map(_.toFloat)), v)))
            }
          }.toArray
          RClipEngine.topTexts(scored.map(_._1), num, r => scored(r)._2)
      }
    }
  }

  /** W1–W3 — random multi-word phrase candidates scored by the normalized
    * word-vector-sum estimate, or (`exact = true`) by re-encoding each
    * phrase with the base encoder — the reference keeps both variants as
    * an explicit accuracy/speed trade (`rclip_server.py:314-342`; the
    * exact CLIP-encode at `:320-328`). Distributed shape (estimate):
    * candidates → explode → broadcast-join words → vector-sum aggregate →
    * normalize → dot → top-k; (exact): candidates → encoder UDF → top-k.
    * Deterministic via seed. */
  def similarPhrases(q: String, num: Int = 50,
      combosPerLen: Int = 1000, topWords: Int = 200,
      exact: Boolean = false): DataFrame = {
    val e = epoch.get
    e.resolve(q).fold(spark.emptyDataFrame.limit(0))(
      phraseTopK(e, _, num, combosPerLen, topWords, exact))
  }

  private def phraseTopK(e: Epoch, v: Array[Float], num: Int,
      combosPerLen: Int, topWords: Int, exact: Boolean): DataFrame = {
    val words = e.words.table
    // top-`topWords` words for this query (reference :331)
    val pool = words
      .select(col("word"), col("vector"),
        VectorOps.dotQueryNative(col("vector"), v).as("wscore"))
      .orderBy(col("wscore").desc, col("word").asc)
      .limit(topWords)
      .select("word").as[String].collect()
    val candidates = phraseCandidates(pool, combosPerLen)
    if (exact) {
      // W2 exact: per-candidate re-encode in a distributed UDF (the
      // encoder port is Serializable — ship the base embedder, never
      // the engine). No driver loop; the candidate set stays on
      // executors until the k-bounded top-k merge.
      val enc = embedder
      val exactScore = udf { (phrase: String) =>
        java.lang.Double.valueOf(VectorOps.dot(enc.embedText(phrase), v))
      }
      candidates.toDF("phrase")
        .select(col("phrase"), round(exactScore(col("phrase")), 4).as("score"))
        .orderBy(col("score").desc, col("phrase").asc)
        .limit(num)
    } else {
      val candDf = candidates.toDF("phrase")
        .withColumn("word", explode(split(col("phrase"), " ")))
      val toUnitFloat = udf { (a: Array[Double]) =>
        if (a == null) null
        else VectorOps.normalize(a.map(_.toFloat))
      }
      candDf
        .join(broadcast(words), "word") // J3; words is tiny → broadcast
        .groupBy("phrase")
        .agg(VectorAggregators.vecSum(col("vector")).as("vsum")) // W1
        .select(col("phrase"),
          round(VectorOps.dotQueryNative(toUnitFloat(col("vsum")), v), 4).as("score"))
        .orderBy(col("score").desc, col("phrase").asc)
        .limit(num)
    }
  }

  /** The seeded phrase draw over the ranked word `pool`: `combosPerLen`
    * samples of 2, 3 and 4 distinct pool words each (the reference's
    * `random.sample`, `rclip_server.py:333`), deduplicated. */
  private def phraseCandidates(pool: Array[String], combosPerLen: Int): Seq[String] = {
    val rnd = new java.util.Random(seed)
    def pick(n: Int): Seq[String] = {
      val idx = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (idx.size < n && idx.size < pool.length) idx += rnd.nextInt(pool.length)
      idx.toSeq.map(pool)
    }
    (2 to 4).flatMap(len => (1 to combosPerLen).map(_ => pick(len).mkString(" "))).distinct
  }

  // ---------------------------------------------------------------- stats

  /** A1/A2: element-wise (min, max) over all live embeddings — one
    * map-side-combining aggregation (`rclip_server.py:63-65`), kept by
    * the epoch it was computed from. */
  def stats(): (Array[Double], Array[Double]) = stats(epoch.get)

  private def stats(e: Epoch): (Array[Double], Array[Double]) = e.stats.getOrElse {
    val row = e.active.agg(
      VectorAggregators.vecMin(col(vecCol)).as("lo"),
      VectorAggregators.vecMax(col(vecCol)).as("hi")).head()
    val s = (row.getSeq[Double](0).toArray, row.getSeq[Double](1).toArray)
    install(e.gen)(_.copy(stats = Some(s)))
    s
  }

  /** `/visualize_clip_embedding` — per-dimension cells normalized by the
    * corpus min/max (`rclip_server.py:253-273`). */
  def visualize(q: String): Seq[DimCell] = {
    val e = epoch.get
    e.resolve(q) match {
      case None => Nil
      case Some(v) =>
        val (lo, hi) = stats(e)
        v.toSeq.zipWithIndex.map { case (x, i) =>
          val range = hi(i) - lo(i)
          val t = if (range == 0) 0.5 else ((x - lo(i)) / range).max(0.0).min(1.0)
          DimCell(i, x, t, Colormap.hex(t))
        }
    }
  }

  /** `/img/{id}` thumbnail-size rewrite: the stored 600px CDN variant
    * rewritten to the requested size (`rclip_server.py:461-463`). Returns
    * None for unknown ids or rows without a thumb URL. */
  def thumbnailUrl(id: Long, size: Int = 600): Option[String] = {
    val active = epoch.get.active
    if (!active.columns.contains("thumb_url")) None
    else active.filter(col(idCol) === id).select(col("thumb_url"))
      .as[Option[String]].collect().headOption.flatten
      .map(_.replaceFirst("/600px-", s"/${size}px-"))
  }

  /** The id −1 placeholder thumbnail (`rclip_server.py:451-458`): a 4:3
    * SVG with a centered dark circle. */
  def placeholderSvg(size: Int = 400): String =
    s"""<svg version="1.1" width="$size" height="${size * 3 / 4}" xmlns="http://www.w3.org/2000/svg">
       |<circle cx="50%" cy="50%" r="25%" fill="#222"/>
       |</svg>""".stripMargin

  /** Full `/thm/{id}` semantics minus HTTP (`rclip_server.py:448-479`):
    * id −1 → placeholder SVG; stored CDN thumb → size-rewritten redirect
    * URL; otherwise the stored `filepath` is fetched and resized through
    * the media-decoder port (EXIF transpose / JPEG re-encode are codec
    * concerns inside [[graft.multimodal.MultimodalOps.MediaDecoder]] —
    * stubbed offline, like the rest of the codec surface). */
  def thumbnail(id: Long, size: Int = 400,
      fetcher: ImageFetcher = FakeImageFetcher,
      decoder: graft.multimodal.MultimodalOps.MediaDecoder =
        graft.multimodal.MultimodalOps.FakeMediaDecoder): Option[Thumb] =
    if (id == -1L) Some(SvgPlaceholder(placeholderSvg(size)))
    else thumbnailUrl(id, size).map(RedirectUrl(_)).orElse {
      val active = epoch.get.active
      if (!active.columns.contains("filepath")) None
      else active.filter(col(idCol) === id).select(col("filepath"))
        .as[String].collect().headOption
        .map(p => ResizedBytes(decoder.resize(fetcher.fetch(p), size, size * 3 / 4)))
    }

  /** `/info/{id}` — metadata + stored embedding for one row. The
    * reference's handler calls a nonexistent method and would throw
    * (`rclip_server.py:483`, SURVEY §7.4); implemented as intended. */
  def info(id: Long): Option[(Long, Array[Float])] =
    epoch.get.active.filter(col(idCol) === id)
      .select(col(idCol), col(vecCol))
      .as[(Long, Array[Float])].collect().headOption

  /** `/copyright_message` — derived from the store location, mirroring
    * the reference's regex-on-db-name contract (`rclip_server.py:276,
    * 489-492`). */
  def copyrightMessage: String =
    if (store.root.toLowerCase.contains("wikimedia"))
      "Images are from Wikimedia Commons; see each image's description page for its license."
    else s"Corpus at ${store.root}; licensing unknown."

  // ------------------------------------------------------------ mutations

  // The mutations below read the newest snapshot and commit the next
  // version, and SnapshotStore assumes one writer: they hold the engine
  // monitor (as reload() does) so concurrent callers, such as the HTTP
  // server's workers, cannot lose an update or race to the same version.

  /** M1 — censor: soft-delete by id, gated by key (`rclip_server.py:
    * 423-428`). Commits the deletion set plus `id` as a deletes-only
    * version (a few bytes) and sets the next epoch over the same cached
    * base view and word table, with no Spark job: a built RAM matrix loses
    * the deleted rows; stats and the ANN index (rebuilt by [[warm]]) go. A
    * set that would grow past [[SnapshotStore.MaxDeletes]] is compacted
    * instead (full rewrite plus [[reload]]), as is a moved base. */
  def censor(id: Long, key: String): Boolean =
    if (!censorKey.contains(key)) false
    else synchronized {
      val pending = store.head.fold(Set.empty[Long])(_.deletedIds) + id
      if (pending.size > SnapshotStore.MaxDeletes) {
        store.write(SnapshotStore.markDeleted(store.read(spark),
          SnapshotStore.Deletes(idCol, Set(id))))
        reload()
      } else {
        val v = store.delete(idCol, Seq(id))
        if (v.base != epoch.get.base) reload()
        else epoch.updateAndGet(e =>
          epochOf(e.gen + 1, e.base, e.cached, v.deletedIds, e.words, e.fast match {
            case FastBuilt(idx) => FastBuilt(idx.without(v.deletedIds -- e.deleted))
            case _ => FastUnbuilt
          }))
      }
      true
    }

  /** M2/A6 — dedup-by-embedding: among rows sharing an identical vector,
    * keep the smallest id, soft-delete the rest. The reference's intended
    * (dead-code) semantics (`rclip_server.py:237-245`) as a window:
    * one shuffle on the vector, no driver data. */
  def dedupByEmbedding(): Long = synchronized {
    val base = store.read(spark)
    val withDel =
      if (base.columns.contains("deleted")) base
      else base.withColumn("deleted", lit(null).cast("boolean"))
    val w = Window.partitionBy(col(vecCol)).orderBy(col(idCol).asc)
    val marked = withDel
      .withColumn("rn", row_number().over(w))
      .withColumn("deleted",
        when(col("rn") > 1, lit(true)).otherwise(col("deleted")))
      .drop("rn")
    val removed = marked.filter(col("deleted") === true).count()
    store.write(marked)
    reload()
    removed
  }

  /** S7 — upsert: incoming rows replace same-key rows, others survive.
    * The reference's `ON CONFLICT(filepath) DO UPDATE`
    * (`index_wikimedia.py:86-103`) as a left-anti + union snapshot. */
  def upsert(incoming: DataFrame, key: String): Unit = synchronized {
    val base = store.read(spark)
    val merged = incoming.unionByName(
      base.join(incoming, Seq(key), "left_anti"), allowMissingColumns = true)
    store.write(merged)
    reload()
  }
}

object RClipEngine {

  /** Spark's string ordering is a binary compare over UTF-8 BYTES;
    * Scala's `String` ordering compares UTF-16 code units. The two
    * diverge for supplementary-plane characters (a surrogate pair's
    * first unit 0xD800-0xDBFF sorts below 0xE000+ in UTF-16 but its
    * UTF-8 encoding 0xF0… sorts above), so the driver serving twins
    * must break score ties with THIS comparator to stay bit-identical
    * to the DataFrame paths on a non-ASCII vocabulary (ADVICE r07). */
  private[engine] def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** Top-`k` (text, rounded score) rows by (round4(raw) DESC, text ASC
    * in UTF-8 bytes) — the exact cut of the distributed
    * `round(score, 4)` + `orderBy(col(score).desc, col(text).asc)`. */
  private def topTexts(texts: Array[String], k: Int,
      raw: Int => Double): Seq[(String, Double)] = {
    val (rows, scores) = TopK.byRoundedScore(texts.length, k, raw,
      (a, b) => utf8Compare(texts(a), texts(b)) < 0)
    rows.indices.map(i => (texts(rows(i)), scores(i)))
  }

  /** Default driver word-map bound: 2²⁰ words ≈ 300 MB of 64-dim fp32
    * entries as JVM map state — comfortably vocabulary-sized (the
    * reference's word list is ~10⁴–10⁵), loudly past it a words table
    * is corpus-shaped data and gets per-query lookups instead. */
  val WordMapMax: Long = 1L << 20

  /** Default driver fast-path bound: 2²⁰ rows ≈ 256 MB of 64-dim fp32
    * matrix (dim-dependent — 2 GB at the reference's 512 dims; size the
    * cap to the driver heap). Below it interactive `search()` serves
    * from RAM at sub-millisecond latency, the reference's own RAM-matrix
    * regime (`rclip_server.py:228`); above it the corpus is
    * cluster-shaped data and the distributed scored scan takes over. */
  val FastPathMaxRows: Long = 1L << 20

  /** Driver-resident scoring matrix for the serving fast path. */
  final case class FastIndex(ids: Array[Long], vecs: Array[Array[Float]]) {
    /** A copy without the rows whose id is in `gone`, in the same row
      * order; the vectors are shared, not copied. */
    def without(gone: Set[Long]): FastIndex = {
      val keep = Array.range(0, ids.length).filterNot(r => gone(ids(r)))
      FastIndex(keep.map(ids), keep.map(vecs))
    }
  }

  sealed trait FastState
  case object FastUnbuilt extends FastState
  case object FastDisabled extends FastState
  final case class FastBuilt(idx: FastIndex) extends FastState
  /** In-flight build claim of epoch generation `gen` (see `claimed`). */
  final case class FastBuilding(gen: Long) extends FastState

  /** Opt-in above-cap ANN serving parameters: `cells`/`nprobe` set the
    * coarse pruning ratio (nprobe/cells of the corpus ADC-scanned per
    * search), `m`/`k` the PQ code geometry, `coarseK` the exact-rerank
    * candidate budget (recall rises with all of nprobe and coarseK; a
    * returned id's SCORE is always exact regardless). `artifactPath`
    * persists the index and serves from the loaded cell-partitioned
    * layout — the cluster deployment shape. Defaults size for a
    * corpus just past the RAM cap; retune cells ≈ √N per deployment. */
  final case class AnnServing(
      cells: Int = 64,
      nprobe: Int = 8,
      m: Int = 8,
      k: Int = 16,
      coarseK: Int = 128,
      ivfIters: Int = 5,
      pqIters: Int = 3,
      artifactPath: Option[String] = None,
      driverCodesMaxRows: Long = RClipEngine.DriverCodesMaxRows,
      healthRecallFloorPermille: Long = 800L,
      healthCellSkewMax: Double = 8.0) {
    require(cells > 0, s"cells must be positive, got $cells")
    require(healthRecallFloorPermille >= 0 && healthRecallFloorPermille <= 1000,
      s"healthRecallFloorPermille must be in [0, 1000], got $healthRecallFloorPermille")
    require(healthCellSkewMax > 0,
      s"healthCellSkewMax must be positive, got $healthCellSkewMax")
    require(nprobe > 0 && nprobe <= cells,
      s"nprobe must be in [1, cells=$cells], got $nprobe")
    require(m > 0, s"m (PQ subvectors) must be positive, got $m")
    require(k > 1 && k <= 256,
      s"k (codebook size) must be in [2, 256], got $k")
    require(coarseK > 0, s"coarseK must be positive, got $coarseK")
    require(ivfIters >= 0 && pqIters >= 0,
      s"iteration counts must be non-negative, got ivf=$ivfIters pq=$pqIters")
    require(driverCodesMaxRows >= 0,
      s"driverCodesMaxRows must be non-negative, got $driverCodesMaxRows")
  }

  /** Default bound for the RAM-COARSE serving regime: up to 2²⁴ rows
    * the engine also holds the PACKED code table driver-resident —
    * 20 B/row (8 B code + 8 B id + 4 B cell) ≈ 335 MB at the cap,
    * where the fp32 matrix the fast path needs would be 16 GB. The
    * coarse ADC cut then costs zero Spark dispatches and only the
    * exact rerank is a job — per-request latency halves, and the
    * candidate cut is BIT-IDENTICAL to the distributed ADC scan
    * ([[graft.ann.PqIndex.adcPacked]] is the kernel's driver twin). */
  val DriverCodesMaxRows: Long = 1L << 24

  /** Driver-resident packed-code table (parallel arrays, index-aligned)
    * for the RAM-coarse serving regime. */
  final case class CodeIndex(ids: Array[Long], cells: Array[Int],
      codes: Array[Long])

  /** The RAM coarse cut: scan the probed cells' codes and keep the top
    * `coarseK` by (raw adc DESC, id ASC) through the shared k-bounded
    * selector [[TopK]], so a request at the 2²⁴-row cap allocates
    * O(coarseK) — no boxed tuples, no full sort of the scanned rows.
    * Ordering is EXACTLY `searchAdc`'s (adc DESC, id ASC) including
    * ties (no rounding on this cut), so it stays bit-identical to the
    * distributed coarse stage (EngineSpec pins it). Returns ids sorted
    * ascending (set semantics feed an isin; order irrelevant, but
    * determinism keeps plans stable). */
  private[engine] def ramCoarseCut(ci: CodeIndex, lut: Array[Double],
      m: Int, k: Int, probe: Seq[Int], coarseK: Int): Seq[Long] = {
    require(coarseK > 0, s"coarseK must be positive, got $coarseK")
    val maxCell = ci.cells.foldLeft(0)(math.max)
    val probedMask = new Array[Boolean](maxCell + 1)
    probe.foreach(c => if (c >= 0 && c <= maxCell) probedMask(c) = true)
    val top = new TopK(coarseK, ci.ids.length, (a, b) => ci.ids(a) < ci.ids(b))
    var row = 0
    while (row < ci.ids.length) {
      if (probedMask(ci.cells(row)))
        top.offer(graft.ann.PqIndex.adcPacked(ci.codes(row), lut, m, k), row)
      row += 1
    }
    top.drain()._1.map(ci.ids).sorted.toSeq
  }

  sealed trait AnnState
  case object AnnUnbuilt extends AnnState
  case object AnnDisabled extends AnnState
  final case class AnnBuilt(ix: graft.ann.IvfPqIndex,
      codeIdx: Option[CodeIndex]) extends AnnState
  /** See [[FastBuilding]]. */
  final case class AnnBuilding(gen: Long) extends AnnState

  /** One drift-monitoring row for the live serving index (VERDICT r08
    * next-#4): recall of the serving ANN path vs exact brute over the
    * current live rows (mean/worst, permille), the serving code table's
    * cell skew (max cell / mean cell, n13's audit) and empty-cell count,
    * and the alarm bit a deployment pages on. */
  final case class AnnHealth(
      recallPermille: Long,
      worstPermille: Long,
      cellSkew: Double,
      emptyCells: Long,
      rows: Long,
      alarm: Boolean)
}

/** Monotone colormap: normalized [0,1] → hex color. The reference uses
  * seaborn `icefire` (`rclip_server.py:257-262`); the contract is "monotone
  * palette over normalized value", here a blue→white→red diverging ramp. */
object Colormap {
  private val stops = Seq(
    0.0 -> (33, 102, 172), 0.5 -> (247, 247, 247), 1.0 -> (178, 24, 43))
  def hex(t: Double): String = {
    val x = t.max(0.0).min(1.0)
    val ((t0, c0), (t1, c1)) =
      if (x <= 0.5) (stops(0), stops(1)) else (stops(1), stops(2))
    val f = if (t1 == t0) 0.0 else (x - t0) / (t1 - t0)
    def lerp(a: Int, b: Int) = math.round(a + (b - a) * f).toInt
    f"#${lerp(c0._1, c1._1)}%02x${lerp(c0._2, c1._2)}%02x${lerp(c0._3, c1._3)}%02x"
  }
}
