package graft.store

import graft.ann.{BinIvf, Hnsw, Ivf, Lsh, Pq, RaBitQ, SparseInverted, Sq8, Vamana}
import graft.text.Bm25
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.json4s.JsonDSL._
import org.json4s._
import org.json4s.jackson.JsonMethods


/** Physical index lifecycle for store collections (reference: indexes
  * are first-class objects created/dropped/rebuilt against a
  * collection, 2.6/common.py:882-898, scalar_index_cycle.py:124-174).
  *
  * Which build serves a declared index is decided by the
  * [[IndexFamily]] table (params parsed and defaulted once). Every
  * family then runs ONE lifecycle, [[ensure]]: a build cache keyed
  * `(collection dir, field, param shape, write-seq)`, the pointer-match
  * load, the growing-segment stale load ([[staleServable]]) and, on a
  * miss, the family's build followed by the pointer commit. The trained
  * dense families (IVF, RaBitQ, SQ8, PQ, BIN_IVF, LSH) share one build
  * skeleton ([[Dense]]: snapshot → train → encode → `partitionBy`
  * write → model JSON), the graph families (HNSW, DISKANN) another.
  *
  * Layout under `<collectionDir>/index/<field>/` (unchanged on disk):
  *   `current_<family>.json` — atomic per-family pointer {builtSeq,
  *     kind, metric, nlist}; legacy shared `current.json` still reads
  *   `v_<seq>_<kind>_<metric>_<nlist>/` — one immutable build:
  *     dense:  `data/` (snapshot parquet, `partitionBy` the family's
  *             cell/bucket columns → probe filters prune directories)
  *             + the model: `centroids.json` (IVF, RaBitQ), `sq8.json`,
  *             `pq.json`, `binivf.json`, `planes.json` (LSH); lazily
  *             `cell_radii.json` (IVF / BIN_IVF range bounds)
  *     graph:  `data/` node tables `partitionBy(_part, seg)`
  *     sparse: `postings/` (`partitionBy` dimension bucket), `dimstats/`
  *     BM25:   term-hash-bucketed postings + doc stats
  *     JSON path / geo grid: `data/` value- or cell-partitioned tables
  *
  * Freshness contract: a build is valid only for the collection
  * write-seq it was built at. Searches call `ensure*`, which reuses the
  * persisted build when `builtSeq == coll.committedSeq` (the max
  * COMMITTED delta seq — not the catalog counter, which is reserved
  * before the delta lands and would let a build racing a DML validate
  * against a snapshot missing the in-flight delta), keeps a slightly
  * stale build when its post-build deltas are small enough to serve
  * inline (sealed ⊎ growing), and rebuilds otherwise (lazy
  * rebuild-on-first-search-after-DML — the rebuild is the same linear
  * offline job the reference schedules explicitly, and its cost
  * amortizes across every query until the next write).
  *
  * At 100 TB: the data/postings rewrite is a single linear
  * shuffle-on-partition-column job (the standard offline index build);
  * queries after that touch only probed `_cid` / term-bucket
  * directories.
  */
object IndexStore {

  /** A persisted build at one collection write-seq. */
  trait Versioned { def builtSeq: Long }

  /** A dense vector build: `encode` turns raw rows into the persisted
    * layout with the build's model — the build's own write and the
    * growing side of [[serve]] both go through it.
    */
  trait DenseBuild extends Versioned {
    def dataPath: String
    def encode(df: DataFrame, field: String): DataFrame
  }

  final case class IvfBuild(model: Ivf.Model, dataPath: String,
      nlist: Int, builtSeq: Long,
      bounds: Option[Ivf.CellBounds] = None) extends DenseBuild {
    def encode(df: DataFrame, field: String): DataFrame =
      Ivf.assign(df, field, model)
  }

  final case class RabitqBuild(model: Ivf.Model, dataPath: String,
      nlist: Int, builtSeq: Long) extends DenseBuild {
    def encode(df: DataFrame, field: String): DataFrame =
      RaBitQ.encode(df, field, model)
  }

  final case class Sq8Build(model: Sq8.Model, dataPath: String,
      nlist: Int, builtSeq: Long) extends DenseBuild {
    def encode(df: DataFrame, field: String): DataFrame =
      Sq8.encode(df, field, model)
  }

  final case class PqBuild(model: Pq.Model, dataPath: String,
      nlist: Int, builtSeq: Long) extends DenseBuild {
    def encode(df: DataFrame, field: String): DataFrame =
      Pq.encode(df, field, model)
  }

  final case class BinIvfBuild(model: BinIvf.Model, dataPath: String,
      nlist: Int, builtSeq: Long) extends DenseBuild {
    def encode(df: DataFrame, field: String): DataFrame =
      BinIvf.assign(df, field, model)
  }

  final case class LshBuild(model: Lsh.Model, dataPath: String,
      builtSeq: Long) extends DenseBuild {
    def encode(df: DataFrame, field: String): DataFrame =
      Lsh.explodeTables(df, field, model)
  }

  final case class Bm25Build(persisted: Bm25.PersistedBm25, builtSeq: Long)
      extends Versioned

  final case class SparseBuild(postingsPath: String, numBuckets: Int,
      builtSeq: Long, dimStatsPath: String) extends Versioned

  final case class JsonPathBuild(dataPath: String, path: String,
      castType: String, builtSeq: Long) extends Versioned

  final case class RtreeBuild(dataPath: String, cellSize: Double,
      builtSeq: Long) extends Versioned

  /** Persisted per-(partition, segment) HNSW graph build — the genuine
    * graph family ([[graft.ann.Hnsw]]) under the same pointer /
    * freshness / growing-segment lifecycle as the IVF families. The
    * payload is the graph NODE table (id, vec, level, adjacency),
    * `partitionBy(_part, seg)`.
    */
  final case class HnswBuild(dataPath: String, m: Int,
      efConstruction: Int, segments: Int, seed: Long, metric: String,
      builtSeq: Long) extends Versioned

  /** Persisted Vamana build facts — served through [[serveGraph]] /
    * [[graft.ann.Hnsw.searchParts]] (same node-table layout, medoid
    * entry encoded as the sole level-1 node).
    */
  final case class VamanaBuild(dataPath: String, r: Int, l: Int,
      alpha: Double, segments: Int, metric: String, builtSeq: Long)
      extends Versioned

  /** The servable frame of a graph build: the sealed per-segment
    * graphs (post-build-changed pks masked out — dangling edges drop
    * at walk time, [[graft.ann.Hnsw.searchParts]]) plus the growing
    * delta rows, which have no graph and are brute-forced exactly at
    * query time — the reference's sealed/growing serving for graph
    * indexes. `growing` is None when the build is fresh.
    */
  final case class HnswServe(sealedGraph: DataFrame,
      growing: Option[DataFrame], deltaServed: Boolean)

  /** Sealed ⊎ growing SPLIT view of a dense build, for exact serving
    * paths whose sealed-side pruning bounds were computed at BUILD
    * time and do not hold for delta rows (range search's per-cell
    * radii): the sealed parquet masked of changed pks, plus the raw
    * delta rows to scan exactly on the side.
    */
  final case class DenseSplit(sealedRows: DataFrame,
      growing: Option[DataFrame])

  /** The servable sparse postings frame: sealed alone when fresh,
    * otherwise sealed ∖ changed-pks ∪ growing (exact — IP scores carry
    * no corpus stats, so unlike BM25 nothing needs adjusting).
    * `deltaServed` tells WAND callers to take the exact bucket-pruned
    * route instead: the persisted per-dim impact bounds do NOT cover
    * the growing postings, so max-score pruning with them could
    * wrongly exclude a new high-impact posting (the exact route
    * returns identical results; pruning resumes at the next rebuild).
    */
  final case class SparseServe(postings: DataFrame, deltaServed: Boolean,
      build: SparseBuild)

  private implicit val formats: Formats = DefaultFormats

  // Every memoized build — plus BM25's per-DML-generation delta stats —
  // keyed (cacheId, field, param shape, seq): the seq in the key
  // self-invalidates after any DML (stale seqs of a field are evicted
  // on its next lookup), drop/dropAllCached evict by collection.
  private val builds = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String, Long), AnyRef]()
  // Lazily derived per-build artifacts (cell bounds, Hamming radii, WAND
  // impact stats), keyed on the build's VERSIONED path — DML
  // invalidation comes free with the new build; a recreated collection
  // reuses the exact paths, so drops evict by path prefix.
  private val derived =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  private def cached[T](coll: Collection, field: String, tag: String,
      seq: Long)(f: => T): T = {
    val cid = cacheId(coll)
    builds.keySet.removeIf(k => k._1 == cid && k._2 == field && k._4 != seq)
    builds.computeIfAbsent((cid, field, tag, seq), _ => f.asInstanceOf[AnyRef])
      .asInstanceOf[T]
  }

  private def derive[T](path: String)(f: => T): T =
    derived.computeIfAbsent(path, _ => f.asInstanceOf[AnyRef]).asInstanceOf[T]

  private def indexDir(coll: Collection, field: String): StorePath =
    coll.catalog.collectionDir(coll.name).resolve("index").resolve(field)

  /** Cache identity for a collection's builds: the collection
    * DIRECTORY, not the name — two same-name collections in different
    * catalog roots (common in test fixtures, possible in multi-root
    * deployments) must never hit each other's cached models; a
    * name-keyed cache returned one root's build (and skipped the other
    * root's pointer write entirely) when names and write-seqs
    * coincided.
    */
  private def cacheId(coll: Collection): String =
    coll.catalog.collectionDir(coll.name).toString

  /** Version dirs encode the build params, not just the seq: a
    * same-seq rebuild with different params (e.g. another nlist) gets
    * its own immutable directory instead of overwriting the parquet a
    * still-cached build points at.
    */
  private def versionDir(dir: StorePath, seq: Long, kind: String,
      metric: String, nlist: Int): StorePath =
    dir.resolve(s"v_${seq}_${kind}_${metric}_$nlist")

  /** The on-disk identity of one build: the pointer's (kind, metric,
    * nlist) and the version dir they name. `tag` adds in-process cache
    * identity the on-disk names do not carry (LSH seed, JSON path).
    */
  private final case class Shape(kind: String, metric: String, nlist: Int,
      tag: String = "") {
    def dir(fieldDir: StorePath, seq: Long): StorePath =
      versionDir(fieldDir, seq, kind, metric, nlist)
    def matches(p: Pointer): Boolean =
      p.kind == kind && p.metric == metric && p.nlist == nlist
  }

  /** Outer partition levels for a persisted vector build: `_part`
    * leads only when the collection can hold more than the default
    * partition, so partition-scoped searches prune whole partition
    * subtrees before the inner probe filter prunes cells/buckets. An
    * UNPARTITIONED collection's build skips the constant
    * `_part=_default` directory level (a useless listing hop on every
    * index read); `_part` still rides along as a DATA column there, so
    * the search-side partition filter resolves against either layout.
    *
    * The layout version is encoded in the pointer `kind` (the "2"
    * suffix on ivf2/rabitq2/sq8v2/binivf2/lsh2/sparse2): a pointer written by
    * an earlier layout fails the load filter and the index lazily
    * rebuilds, instead of serving parquet whose partition structure
    * the current search path no longer matches.
    */
  private def vectorLayout(coll: Collection, inner: String*): Seq[String] = {
    val d = coll.definition
    val unpartitioned = d.partitions.isEmpty &&
      d.partitionKeyField.isEmpty && d.numPartitions.isEmpty
    if (unpartitioned) inner.toSeq else "_part" +: inner.toSeq
  }

  private def readJson(f: StorePath): JValue =
    JsonMethods.parse(new String(f.readBytes))

  private def writeJson(f: StorePath, j: JValue): Unit =
    f.writeBytes(JsonMethods.compact(JsonMethods.render(j)).getBytes)

  // ---- the one lifecycle ----------------------------------------------------

  /** Post-DML serving gate — the Milvus sealed/growing segment model,
    * Spark-first: instead of rebuilding a vector index after EVERY
    * write batch (a full train + encode + shuffle of the collection),
    * a build whose post-build delta volume is small keeps serving as
    * the SEALED side, and queries union in the GROWING side — the
    * delta rows encoded inline with the sealed build's model (encode
    * is a projection; only TRAINING needs the full-table pass). The
    * reference engine does exactly this: sealed segments serve from
    * their index, the growing segment is brute-forced, results merge
    * at query time.
    *
    * Serve-stale iff the deltas committed after the build are at most
    * `graft.index.deltaServe.fraction` (default 0.2) of the build's
    * bytes — with a floor (default 64 MB: small collections always
    * serve, the write-heavy brick shape) and an absolute cap (default
    * 1 GB: the growing side is scanned unpruned per query and its
    * changed-pk set broadcasts, both must stay bounded at 100 TB).
    * Above the gate the usual lazy full rebuild runs — the LSM
    * "compaction amortizes the write debt" point.
    */
  private def staleServable(spark: SparkSession, coll: Collection,
      builtSeq: Long, buildDir: StorePath): Boolean = {
    if (coll.isExternal) return false
    val deltaBytes = coll.deltaBytesSince(builtSeq)
    val conf = spark.conf
    val frac = conf.get("graft.index.deltaServe.fraction", "0.2").toDouble
    val floor =
      conf.get("graft.index.deltaServe.floorBytes", (64L << 20).toString).toLong
    val cap =
      conf.get("graft.index.deltaServe.capBytes", (1L << 30).toString).toLong
    deltaBytes <= cap &&
      deltaBytes <= math.max((frac * buildDir.totalSize).toLong, floor)
  }

  /** Load an existing build of `shape` at its POINTER seq (not the
    * collection's current seq `seq`) when [[staleServable]] says the
    * delta volume since it is small enough to serve inline.
    */
  private def staleLoad[B](spark: SparkSession, coll: Collection,
      field: String, seq: Long, shape: Shape)(
      load: (StorePath, Long) => B): Option[B] = {
    val dir = indexDir(coll, field)
    readPointer(dir, shape.kind)
      .filter(p => p.builtSeq < seq && shape.matches(p) &&
        staleServable(spark, coll, p.builtSeq, shape.dir(dir, p.builtSeq)))
      .map(p => load(shape.dir(dir, p.builtSeq), p.builtSeq))
  }

  /** Ensure a servable persisted build of `shape` for `field`: reuse
    * when the on-disk build matches the collection's current write-seq,
    * keep a slightly-stale build when the post-build deltas are small
    * enough to serve inline (growing-segment serving — see
    * [[staleServable]]; searches must then read the frame through the
    * family's serve call), build + commit the pointer otherwise.
    * `allowStale = false` (create_index/rebuild, and the families that
    * delta-serve from their own serve call) always materializes fresh.
    * `load`/`build` get the build's version dir and seq.
    */
  private def ensure[B <: Versioned](spark: SparkSession, coll: Collection,
      field: String, shape: Shape, allowStale: Boolean)(
      load: (StorePath, Long) => B)(build: (StorePath, Long) => B): B = {
    val seq = coll.committedSeq
    // an explicit materialize must not return a cached STALE-SERVED build
    if (!allowStale)
      builds.computeIfPresent((cacheId(coll), field, shape.toString, seq),
        (_, b) => if (b.asInstanceOf[Versioned].builtSeq != seq) null else b)
    cached(coll, field, shape.toString, seq) {
      val dir = indexDir(coll, field)
      readPointer(dir, shape.kind)
        .filter(p => p.builtSeq == seq && shape.matches(p))
        .map(_ => load(shape.dir(dir, seq), seq))
        .orElse(if (allowStale) staleLoad(spark, coll, field, seq, shape)(load)
          else None)
        .getOrElse {
          val b = build(shape.dir(dir, seq), seq)
          commitPointer(dir, seq, shape.kind, shape.metric, shape.nlist)
          b
        }
    }
  }

  /** A trained dense family: `train` fits the model on the snapshot,
    * `wrap` makes the build (whose `encode` writes the layout
    * `partitionBy(layout)`), and the model round-trips through
    * `metaFile` beside `data/`.
    */
  private final case class Dense[M, B <: DenseBuild](shape: Shape,
      metaFile: String, layout: Seq[String], train: DataFrame => M,
      toJson: M => JObject, fromJson: JValue => M,
      wrap: (M, String, Long) => B)

  private def ensureDense[M, B <: DenseBuild](spark: SparkSession,
      coll: Collection, field: String, d: Dense[M, B],
      allowStale: Boolean): B =
    ensure(spark, coll, field, d.shape, allowStale)((vdir, s) => d.wrap(
      d.fromJson(readJson(vdir.resolve(d.metaFile))),
      vdir.resolve("data").toString, s)) { (vdir, seq) =>
      // Null vectors (nullable vector fields, 3.0 plan §4) are not
      // indexed: they can't be trained on (the sample collect would NPE)
      // and must never surface from a probe.
      val snapshot = coll.readWithPartition(spark).filter(col(field).isNotNull)
      val model = d.train(snapshot)
      val b = d.wrap(model, vdir.resolve("data").toString, seq)
      // One shuffle on the LEAF layout key to co-locate each output
      // directory's rows in one task -> one file per leaf directory,
      // instead of every task writing into every leaf (tasks x nlist
      // small files). See [[vectorLayout]] for the conditional `_part`
      // outer level.
      val parts = vectorLayout(coll, d.layout: _*)
      b.encode(snapshot, field)
        .repartition(parts.map(col): _*)
        .write.mode("overwrite").partitionBy(parts: _*).parquet(b.dataPath)
      writeJson(vdir.resolve(d.metaFile), d.toJson(model))
      b
    }

  private def centroidsJson(metric: String, nlist: Int,
      m: Ivf.Model): JObject =
    ("metric" -> metric) ~ ("nlist" -> nlist) ~
      ("centroids" -> m.centroids.toSeq.map(_.toSeq))

  private def ivfModel(j: JValue, metric: String): Ivf.Model =
    Ivf.Model((j \ "centroids").extract[Seq[Seq[Double]]].map(_.toArray)
      .toArray, metric)

  /** Persisted IVF index — per-cell pruning bounds are LAZY since round
    * 12 (see [[ivfBounds]]): builds that only ever serve probe-budget
    * ANN never pay the bounds pass.
    */
  def ensureIvf(spark: SparkSession, coll: Collection,
      field: String, metric: String, nlist: Int,
      allowStale: Boolean = true): IvfBuild =
    ensureDense(spark, coll, field, Dense[Ivf.Model, IvfBuild](
      Shape("ivf2", metric, nlist), "centroids.json", Seq("_cid"),
      Ivf.train(_, field, k = nlist, metric = metric),
      centroidsJson(metric, nlist, _), ivfModel(_, metric),
      IvfBuild(_, _, nlist, _)), allowStale)

  /** RaBitQ (1-bit quantized IVF): the cell-partitioned snapshot
    * additionally carries the residual sign code and norm columns the
    * estimate pass scans.
    */
  def ensureRabitq(spark: SparkSession, coll: Collection,
      field: String, metric: String, nlist: Int,
      allowStale: Boolean = true): RabitqBuild =
    ensureDense(spark, coll, field, Dense[Ivf.Model, RabitqBuild](
      Shape("rabitq2", metric, nlist), "centroids.json", Seq("_cid"),
      Ivf.train(_, field, k = nlist, metric = metric),
      centroidsJson(metric, nlist, _), ivfModel(_, metric),
      RabitqBuild(_, _, nlist, _)), allowStale)

  /** IVF_SQ8 (8-bit scalar-quantized IVF): the snapshot additionally
    * carries the byte code and decoded-norm columns the ADC estimate
    * pass scans.
    */
  def ensureSq8(spark: SparkSession, coll: Collection,
      field: String, metric: String, nlist: Int,
      allowStale: Boolean = true): Sq8Build =
    ensureDense(spark, coll, field, Dense[Sq8.Model, Sq8Build](
      Shape("sq8v2", metric, nlist), "sq8.json", Seq("_cid"),
      Sq8.train(_, field, nlist, metric),
      m => centroidsJson(metric, nlist, m.ivf) ~
        ("mins" -> m.mins.toSeq) ~ ("maxs" -> m.maxs.toSeq),
      j => Sq8.Model(ivfModel(j, metric),
        (j \ "mins").extract[Seq[Double]].toArray,
        (j \ "maxs").extract[Seq[Double]].toArray),
      Sq8Build(_, _, nlist, _)), allowStale)

  /** IVF_PQ (residual product quantization): an m-byte code payload and
    * the codebook persisted beside the centroids; the PQ shape rides
    * in the kind ("pqv1_<m>_<ksub>") so other layouts rebuild lazily.
    */
  def ensurePq(spark: SparkSession, coll: Collection, field: String,
      metric: String, nlist: Int, m: Int, ksub: Int,
      allowStale: Boolean = true): PqBuild =
    ensureDense(spark, coll, field, Dense[Pq.Model, PqBuild](
      Shape(s"pqv1_${m}_$ksub", metric, nlist), "pq.json", Seq("_cid"),
      Pq.train(_, field, nlist, m, ksub, metric),
      model => centroidsJson(metric, nlist, model.ivf) ~
        ("codebook" -> model.codebook.toSeq.map(_.toSeq.map(_.toSeq))),
      j => Pq.Model(ivfModel(j, metric),
        (j \ "codebook").extract[Seq[Seq[Seq[Double]]]]
          .map(_.map(_.toArray).toArray).toArray),
      PqBuild(_, _, nlist, _)), allowStale)

  /** BIN_IVF_FLAT (binary-vector IVF, k-majority cells) over Hamming
    * geometry; per-cell radii are lazy ([[binIvfRadii]]).
    */
  def ensureBinIvf(spark: SparkSession, coll: Collection,
      field: String, nlist: Int, allowStale: Boolean = true): BinIvfBuild =
    ensureDense(spark, coll, field, Dense[BinIvf.Model, BinIvfBuild](
      Shape("binivf2", "HAMMING", nlist), "binivf.json", Seq(BinIvf.CID),
      BinIvf.train(_, field, k = nlist),
      m => ("nlist" -> nlist) ~ ("centroids" -> m.centroids.toSeq.map(c =>
        c.map(b => f"${b & 0xff}%02x").mkString)),
      j => BinIvf.Model((j \ "centroids").extract[Seq[String]].map(
        _.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray).toArray),
      BinIvfBuild(_, _, nlist, _)), allowStale)

  /** Random-hyperplane LSH: the [[Lsh.explodeTables]] layout written
    * `partitionBy("_t", "_sig")` so EVERY hash table's probe set prunes
    * bucket directories at the scan, plus the seeded plane matrix in
    * `planes.json`. Hyperplanes are data-independent, so the rebuild
    * after DML is one signature projection + shuffle — no training
    * scan. Tables/planes ride in the pointer's nlist slot, packed.
    */
  def ensureLsh(spark: SparkSession, coll: Collection, field: String,
      metric: String, tables: Int, numPlanes: Int,
      seed: Long = 42L, allowStale: Boolean = true): LshBuild =
    ensureDense(spark, coll, field, Dense[Lsh.Model, LshBuild](
      Shape(s"lsh2_${tables}x$numPlanes", metric, tables * 1000 + numPlanes,
        seed.toString), "planes.json", Seq("_t", "_sig"),
      // dim comes from the data, not the declared FieldDef — the
      // signature must cover the stored vectors exactly.
      s => Lsh.train(s.select(size(col(field))).head().getInt(0), tables,
        numPlanes, metric, seed),
      m => ("metric" -> metric) ~ ("seed" -> seed) ~
        ("planes" -> m.planes.toSeq.map(_.toSeq.map(_.toSeq))),
      j => Lsh.Model((j \ "planes").extract[Seq[Seq[Seq[Double]]]]
        .map(_.map(_.toArray).toArray).toArray, metric),
      LshBuild(_, _, _)), allowStale)

  // ---- graph families (HNSW, DISKANN) ---------------------------------------

  /** Bounded per-segment row cap for graph builds
    * (`graft.graph.maxSegmentRows`): each segment's graph is built
    * IN-TASK memory (arrays O(size × (dim + m × levels))), so the cap
    * — never the data size — is what bounds executor memory at scale:
    * more data means MORE segments, never bigger ones. Search fans
    * the beam walk out per segment and unions candidates exactly, so
    * recall is shard-count-invariant. 250k 64-dim nodes ≈ 140 MB of
    * task arrays — comfortable in a 4 GB executor with headroom for
    * the scan.
    *
    * `segments = 0` first resolves to a live `family` pointer's pinned
    * count when its other parameters match (`matches` over the kind's
    * `-`-separated tokens, the count at `segAt`) — reuse and
    * stale-serve must resolve the SAME kind string, so auto-sizing may
    * not drift away from an existing build; one count job is paid only
    * when a fresh build is being sized.
    */
  private def graphSegments(spark: SparkSession, coll: Collection,
      field: String, segments: Int, family: String,
      matches: Array[String] => Boolean, segAt: Int): Int =
    if (segments > 0) segments
    else readPointer(indexDir(coll, field), family).flatMap { p =>
      val parts = p.kind.split("-")
      if (kindFamily(p.kind) == family && parts.length > segAt &&
          scala.util.Try(matches(parts)).getOrElse(false))
        scala.util.Try(parts(segAt).toInt).toOption
      else None
    }.getOrElse {
      val cap = spark.conf.getOption("graft.graph.maxSegmentRows")
        .map(_.toLong).getOrElse(250000L)
      val rows = coll.read(spark).count()
      math.max(spark.sessionState.conf.numShufflePartitions,
        math.ceil(rows.toDouble / cap).toInt)
    }

  private def ensureGraph[B <: Versioned](spark: SparkSession,
      coll: Collection, field: String, shape: Shape, allowStale: Boolean)(
      wrap: (String, Long) => B)(
      nodes: (DataFrame, String) => Dataset[Hnsw.GraphRow]): B =
    ensure(spark, coll, field, shape, allowStale)((vdir, s) =>
      wrap(vdir.resolve("data").toString, s)) { (vdir, seq) =>
      val dataPath = vdir.resolve("data").toString
      // Null vectors are not indexed. One shuffle on the (part, seg)
      // key — each task builds its segment's graph in memory and writes
      // one leaf directory.
      nodes(coll.readWithPartition(spark).filter(col(field).isNotNull),
        coll.definition.primaryField.name)
        .toDF().withColumnRenamed("part", "_part")
        .write.mode("overwrite").partitionBy(vectorLayout(coll, "seg"): _*)
        .parquet(dataPath)
      wrap(dataPath, seq)
    }

  /** Persisted HNSW graph index; searches read it through [[serveHnsw]],
    * which masks changed pks out of the sealed graphs and brute-forces
    * the delta.
    */
  def ensureHnsw(spark: SparkSession, coll: Collection, field: String,
      metric: String, m: Int, efConstruction: Int, segments: Int = 0,
      seed: Long = 42L, allowStale: Boolean = true): HnswBuild = {
    // hnsw1-m-efc-segs-seed
    val segs = graphSegments(spark, coll, field, segments, "hnsw1",
      ps => ps(1).toInt == m && ps(2).toInt == efConstruction &&
        ps(4).toLong == seed, segAt = 3)
    ensureGraph(spark, coll, field,
      Shape(s"hnsw1-$m-$efConstruction-$segs-$seed", metric, m), allowStale)(
      HnswBuild(_, m, efConstruction, segs, seed, metric, _))(
      Hnsw.buildParts(_, field, _, "_part",
        Hnsw.Params(m, efConstruction, metric, seed), segs))
  }

  /** Persisted Vamana (DISKANN) graph index — the [[ensureHnsw]]
    * lifecycle with the α-robust-pruned single-layer build in-task.
    */
  def ensureDiskann(spark: SparkSession, coll: Collection, field: String,
      metric: String, r: Int, l: Int, alpha: Double, segments: Int = 0,
      allowStale: Boolean = true): VamanaBuild = {
    // vamana1-r-l-alpha100-segs
    val segs = graphSegments(spark, coll, field, segments, "vamana1",
      ps => ps(1).toInt == r && ps(2).toInt == l &&
        ps(3).toLong == math.round(alpha * 100), segAt = 4)
    ensureGraph(spark, coll, field,
      Shape(s"vamana1-$r-$l-${math.round(alpha * 100)}-$segs", metric, r),
      allowStale)(VamanaBuild(_, r, l, alpha, segs, metric, _))(
      Vamana.buildParts(_, field, _, "_part", Vamana.Params(r, l, alpha, metric),
        segs))
  }

  // ---- serving --------------------------------------------------------------

  /** The late-committed-import fallback and the sealed/growing split
    * share one shape: None when the build at `builtSeq` is fresh;
    * otherwise Some((changed pks, visible delta rows)), where the
    * changed-pk set is None in the rare window a late-committed 2PC
    * import landed in (its rows order below sealed rows, commitImport
    * doc) — window-local resolution is unsound there, so callers serve
    * the full current snapshot exactly instead.
    */
  private def deltaSince(spark: SparkSession, coll: Collection,
      builtSeq: Long): Option[(Option[DataFrame], DataFrame)] =
    if (builtSeq >= coll.committedSeq) None
    else Some(coll.deltaViewSince(spark, builtSeq) match {
      case Some((newRows, changedPks)) => (Some(changedPks), newRows)
      case None => (None, coll.readWithPartition(spark))
    })

  /** Align a growing frame to the sealed side: the sealed side's
    * partition-column types are INFERRED from directory names on read
    * (e.g. `_sig=12` reads as int).
    */
  private def alignTo(base: DataFrame, growing: DataFrame): DataFrame =
    growing.select(base.columns.map(c =>
      col(c).cast(base.schema(c).dataType).as(c)): _*)

  /** The servable frame of a dense vector build: the persisted parquet
    * alone when fresh; otherwise SEALED ⊎ GROWING — the persisted rows
    * minus every pk the post-build deltas touched (their sealed copy
    * is stale: overwritten or tombstoned), plus the deltas' visible
    * rows encoded inline with the build's model. The changed-pk mask
    * is an explicit broadcast anti-join (bounded by the
    * [[staleServable]] cap), so probe/partition filters still push to
    * the sealed parquet scan and prune directories; the growing side
    * is delta-sized by construction.
    *
    * Exactness: the combined frame contains exactly the rows a fresh
    * rebuild would index, with identical stored vectors — only the
    * TRAINED artifacts (centroids/bounds/codebooks) are the sealed
    * build's, so quantized CANDIDATE sets can differ from a
    * fresh-build run the way any two trainings differ, while exact
    * re-rank and full-probe searches are bit-identical.
    */
  def serve(spark: SparkSession, coll: Collection, field: String,
      b: DenseBuild): DataFrame = {
    val base = spark.read.parquet(b.dataPath)
    deltaSince(spark, coll, b.builtSeq).fold(base) {
      case (Some(changedPks), newRows) =>
        val pk = coll.definition.primaryField.name
        base.join(broadcast(changedPks), Seq(pk), "left_anti").unionByName(
          alignTo(base, b.encode(newRows.filter(col(field).isNotNull), field)))
      case (None, all) =>
        // transiently encode the full current snapshot — exact, rare,
        // and the next DML-free ensure() still reuses the build.
        b.encode(all.filter(col(field).isNotNull), field)
    }
  }

  def serveIvf(spark: SparkSession, coll: Collection, field: String,
      b: IvfBuild): DataFrame = serve(spark, coll, field, b)

  def serveSq8(spark: SparkSession, coll: Collection, field: String,
      b: Sq8Build): DataFrame = serve(spark, coll, field, b)

  /** Sealed rows masked of the changed pks (`mask` anti-joins the pk
    * set against the build's id column) + the raw delta rows; the
    * late-import window serves an empty sealed side and the full
    * snapshot as growing.
    */
  private def split(spark: SparkSession, coll: Collection, field: String,
      dataPath: String, builtSeq: Long)(
      mask: (DataFrame, DataFrame, String) => DataFrame
  ): (DataFrame, Option[DataFrame]) = {
    val base = spark.read.parquet(dataPath)
    deltaSince(spark, coll, builtSeq) match {
      case None => (base, None)
      case Some((changed, rows)) =>
        (changed.fold(base.limit(0))(
          mask(base, _, coll.definition.primaryField.name)),
          Some(rows.filter(col(field).isNotNull)))
    }
  }

  /** Sealed ⊎ growing SPLIT of a dense build ([[DenseSplit]]). */
  def serveDenseSplit(spark: SparkSession, coll: Collection,
      field: String, dataPath: String, builtSeq: Long): DenseSplit = {
    val (sealedRows, growing) = split(spark, coll, field, dataPath,
      builtSeq)((base, pks, pk) =>
      base.join(broadcast(pks), Seq(pk), "left_anti"))
    DenseSplit(sealedRows, growing)
  }

  /** Sealed ⊎ growing view of a persisted GRAPH build (HNSW or Vamana
    * — see [[HnswServe]]; both families persist the same node-table
    * layout). The changed-pk mask is a broadcast anti-join on the
    * graph's `id` column (bounded by [[staleServable]]'s byte cap).
    */
  def serveGraph(spark: SparkSession, coll: Collection, field: String,
      dataPath: String, builtSeq: Long): HnswServe = {
    val (sealedGraph, growing) = split(spark, coll, field, dataPath,
      builtSeq)((base, pks, pk) => base.join(
      broadcast(pks.select(col(pk).cast("long").as("id"))), Seq("id"),
      "left_anti"))
    HnswServe(sealedGraph, growing, deltaServed = growing.isDefined)
  }

  def serveHnsw(spark: SparkSession, coll: Collection, field: String,
      b: HnswBuild): HnswServe =
    serveGraph(spark, coll, field, b.dataPath, b.builtSeq)

  // ---- sparse, BM25, JSON path, geo grid ------------------------------------

  private def sparseShape(numBuckets: Int) = Shape("sparse2", "IP", numBuckets)

  private def sparseAt(numBuckets: Int)(vdir: StorePath, s: Long) =
    SparseBuild(vdir.resolve("postings").toString, numBuckets, s,
      vdir.resolve("dimstats").toString)

  /** The build's WAND impact stats, collected once per build version
    * and held driver-side like IVF centroids.
    */
  def sparseDimStats(spark: SparkSession,
      build: SparseBuild): Map[Int, (Double, Double)] =
    derive(build.dimStatsPath)(
      SparseInverted.collectDimStats(spark.read.parquet(build.dimStatsPath)))

  /** Ensure a fresh persisted sparse inverted index: dimension
    * postings `partitionBy(_db)` so a query's scan prunes to its
    * dimensions' bucket directories.
    */
  def ensureSparse(spark: SparkSession, coll: Collection,
      field: String, numBuckets: Int): SparseBuild =
    ensure(spark, coll, field, sparseShape(numBuckets), allowStale = false)(
      sparseAt(numBuckets)) { (vdir, seq) =>
      val b = sparseAt(numBuckets)(vdir, seq)
      // `_part` rides along like the dense family ([[vectorLayout]]):
      // a partition-scoped sparse search prunes partition subtrees
      // before the bucket filter prunes dimension directories.
      val postings = SparseInverted.postings(
        coll.readWithPartition(spark).filter(col(field).isNotNull),
        field, coll.definition.primaryField.name, numBuckets,
        carry = Seq("_part"))
      val parts = vectorLayout(coll, SparseInverted.BUCKET)
      postings
        .repartition(parts.map(col): _*)
        .write.mode("overwrite")
        .partitionBy(parts: _*).parquet(b.postingsPath)
      // WAND impact stats: one row per distinct dimension, read back
      // pruned to the query's dims (SPARSE_WAND, workload.py:151).
      // Global bounds stay VALID (conservative) upper bounds for any
      // partition-scoped subset.
      SparseInverted.dimStats(spark.read.parquet(b.postingsPath))
        .coalesce(1).write.mode("overwrite").parquet(b.dimStatsPath)
      b
    }

  /** The servable sparse postings frame ([[SparseServe]]). */
  def serveSparse(spark: SparkSession, coll: Collection, field: String,
      numBuckets: Int): SparseServe = {
    val seq = coll.committedSeq
    staleLoad(spark, coll, field, seq, sparseShape(numBuckets))(
      sparseAt(numBuckets)).foreach { b =>
      coll.deltaViewSince(spark, b.builtSeq).foreach {
        case (newRows, changedPks) =>
          val pk = coll.definition.primaryField.name
          val sealedSide = spark.read.parquet(b.postingsPath)
            .join(broadcast(changedPks), Seq(pk), "left_anti")
          val growing = SparseInverted.postings(
            newRows.filter(col(field).isNotNull), field, pk, numBuckets,
            carry = Seq("_part"))
          return SparseServe(sealedSide.unionByName(alignTo(sealedSide, growing)),
            deltaServed = true, b)
      }
    }
    val b = ensureSparse(spark, coll, field, numBuckets)
    SparseServe(spark.read.parquet(b.postingsPath), deltaServed = false, b)
  }

  private def bm25Shape(params: Bm25.Params) = Shape("bm25", params.analyzer, 0)

  private def bm25At(params: Bm25.Params)(vdir: StorePath, s: Long) =
    Bm25Build(Bm25.readIndexMeta(vdir.toString, params), s)

  def ensureBm25(spark: SparkSession, coll: Collection,
      field: String, params: Bm25.Params): Bm25Build =
    ensure(spark, coll, field, bm25Shape(params), allowStale = false)(
      bm25At(params)) { (vdir, seq) =>
      Bm25Build(Bm25.buildPersisted(coll.read(spark), field,
        coll.definition.primaryField.name, vdir.toString, params), seq)
    }

  /** BM25 text top-k with sealed/growing delta serving: a build whose
    * post-DML delta volume passes [[staleServable]] keeps serving —
    * [[Bm25.topKDeltaServed]] adjusts the global stats exactly, so the
    * result is identical to a rebuild's. Falls back to the usual lazy
    * full rebuild above the gate (or for pre-doclen layouts / the
    * late-import window).
    */
  def searchTextServed(spark: SparkSession, coll: Collection,
      field: String, params: Bm25.Params, query: String,
      k: Int): DataFrame = {
    val seq = coll.committedSeq
    staleLoad(spark, coll, field, seq, bm25Shape(params))(bm25At(params))
      .filter(_.persisted.doclenPath.nonEmpty).foreach { b =>
      coll.deltaViewSince(spark, b.builtSeq).foreach {
        case (newRows, changedPks) =>
          val growing = newRows.select(
            col(coll.definition.primaryField.name), col(field))
          // Growing mini-postings (a delta-sized tokenize, pinned) and
          // the stats adjustment (a doclen-table scan) each run once
          // per (build, DML generation), not per query.
          val gen = s"${params.analyzer}/${b.builtSeq}"
          val gposts = cached(coll, field, s"bm25growing/$gen", seq)(
            Bm25.growingPostings(b.persisted, growing, field))
          val st = cached(coll, field, s"bm25stats/$gen", seq)(
            Bm25.deltaStats(spark, b.persisted, gposts, changedPks))
          return Bm25.topKDeltaServed(spark, b.persisted, query, k,
            growing, changedPks, field, Some(st), Some(gposts))
      }
    }
    val b = ensureBm25(spark, coll, field, params)
    Bm25.topKPersisted(spark, b.persisted, query, k)
  }

  private def jsonPathShape(path: String, castType: String, kind: String) =
    Shape(IndexFamily.JsonPath(path, castType, kind, 0).pointerFamily,
      castType, 0, s"$path/$kind")

  private def jsonPathValue(field: String, path: String, castType: String) =
    expr(s"try_cast(get_json_object($field, '$path') AS $castType)").as("_v")

  /** JSON Path index kinds (3.0 plan §4: `Sort`, `Bitmap`, `Hybrid`),
    * materialized as a (pk, _v) table of the extracted, typed value:
    *
    *  - `sort` — range-partition + sort on the value: each file owns a
    *    value range, so range/equality predicates prune whole files via
    *    parquet min/max stats. The general-cardinality layout.
    *  - `bitmap` — the value IS the physical partition column
    *    (`partitionBy(_v)`): an equality/IN/range predicate prunes at
    *    the DIRECTORY level before any file opens — the Spark-native
    *    posting-list bitmap, right when cardinality is low (≤ one
    *    directory per distinct value).
    *  - `hybrid` — measures the distinct count at build time and picks
    *    bitmap at/below `bitmap_cardinality` (default 1024), sort above.
    *
    * Serving is layout-independent (read + filter on `_v`) — only the
    * pruning mechanism differs, so [[Collection.queryJsonPath]] does not
    * care which kind built the files.
    */
  def ensureJsonPath(spark: SparkSession, coll: Collection,
      field: String, path: String, castType: String,
      kind: String = "sort", bitmapCardinality: Int = 1024): JsonPathBuild =
    ensure(spark, coll, field, jsonPathShape(path, castType, kind),
      allowStale = false)((vdir, s) => JsonPathBuild(
      vdir.resolve("data").toString, path, castType, s)) { (vdir, seq) =>
      val dataPath = vdir.resolve("data").toString
      val base = coll.read(spark).select(
        col(coll.definition.primaryField.name),
        jsonPathValue(field, path, castType))
      val effective = kind.toLowerCase match {
        case "hybrid" =>
          if (base.select("_v").distinct().count() <= bitmapCardinality)
            "bitmap"
          else "sort"
        case k => k
      }
      effective match {
        case "bitmap" =>
          // One shuffle to co-locate values -> one file per value
          // directory (null values land in the Hive default-partition
          // directory and read back as null, matching the sort
          // layout's null handling).
          base.repartition(col("_v"))
            .write.mode("overwrite").partitionBy("_v").parquet(dataPath)
        case "sort" =>
          base.repartitionByRange(col("_v"))
            .sortWithinPartitions("_v")
            .write.mode("overwrite").parquet(dataPath)
        case other => throw new IllegalArgumentException(
          s"unknown JSON_PATH index kind $other (sort | bitmap | hybrid)")
      }
      writeJson(vdir.resolve("path.json"), ("path" -> path) ~
        ("cast" -> castType) ~ ("kind" -> kind) ~ ("layout" -> effective))
      JsonPathBuild(dataPath, path, castType, seq)
    }

  /** The servable (pk, _v) value frame of a JSON-path index: the
    * sealed table alone when fresh; otherwise sealed ∖ changed-pks ∪
    * the delta rows' freshly-extracted values. Stale sealed values can
    * neither hide a new match (delta values are present) nor leak an
    * old one (the changed pk's sealed value is masked), so the
    * pk-semi-join consumer stays exact without a rebuild. Both union
    * sides are cast to `castType` — the bitmap layout's directory
    * values read back as inferred types.
    */
  def serveJsonPathValues(spark: SparkSession, coll: Collection,
      field: String, path: String, castType: String,
      kind: String = "sort", bitmapCardinality: Int = 1024): DataFrame = {
    val seq = coll.committedSeq
    val pk = coll.definition.primaryField.name
    staleLoad(spark, coll, field, seq, jsonPathShape(path, castType, kind))(
      (vdir, s) => vdir.resolve("data").toString -> s).foreach {
      case (dataPath, builtSeq) =>
        coll.deltaViewSince(spark, builtSeq).foreach {
          case (newRows, changedPks) =>
            val sealedSide = spark.read.parquet(dataPath)
              .join(broadcast(changedPks), Seq(pk), "left_anti")
              .select(col(pk), col("_v").cast(castType).as("_v"))
            return sealedSide.unionByName(
              newRows.select(col(pk), jsonPathValue(field, path, castType)))
        }
    }
    spark.read.parquet(ensureJsonPath(spark, coll, field, path, castType,
      kind, bitmapCardinality).dataPath)
  }

  /** Ensure a fresh persisted grid geo index for a WKT point `field` —
    * the Spark-native analog of the reference's RTREE declaration
    * (schema_matrix_3_0.yaml:25 `{field: location, index_type:
    * RTREE}`). A serial rtree's "skip most of the data per query" is,
    * data-parallel, a COARSE GRID: each point lands in a
    * `floor(x/cell)_floor(y/cell)` bucket, persisted
    * `partitionBy(_gcell)` so a query polygon's bbox prunes to its
    * covered cell DIRECTORIES at the scan — the spatial-join pruning
    * shape (grid partitioning) every distributed geo engine uses.
    * Exact point-in-polygon then refines only the surviving cells.
    */
  def ensureRtree(spark: SparkSession, coll: Collection,
      field: String, cellSize: Double = 8.0): RtreeBuild =
    ensure(spark, coll, field,
      Shape(IndexFamily.Rtree(cellSize).pointerFamily, "wkt", 0),
      allowStale = false)((vdir, s) =>
      RtreeBuild(vdir.resolve("data").toString, cellSize, s)) { (vdir, seq) =>
      val dataPath = vdir.resolve("data").toString
      val num = "[-+0-9.eE]+"
      val x = regexp_extract(col(field),
        s"(?i)POINT\\s*\\(\\s*($num)", 1).cast("double")
      val y = regexp_extract(col(field),
        s"(?i)POINT\\s*\\(\\s*$num\\s+($num)", 1).cast("double")
      coll.read(spark).filter(col(field).isNotNull)
        .select(col(coll.definition.primaryField.name), col(field),
          x.as("_x"), y.as("_y"))
        .filter(col("_x").isNotNull && col("_y").isNotNull)
        .withColumn("_gcell", concat(
          floor(col("_x") / cellSize).cast("long"), lit("_"),
          floor(col("_y") / cellSize).cast("long")))
        // one shuffle to co-locate cells -> one file per cell dir
        .repartition(col("_gcell"))
        .write.mode("overwrite").partitionBy("_gcell").parquet(dataPath)
      RtreeBuild(dataPath, cellSize, seq)
    }

  // ---- create / drop / describe ---------------------------------------------

  /** Eager materialization for create_index: the build the search
    * routes will serve for `ix`, as the [[IndexFamily]] table resolves
    * it — always FRESH (allowStale=false): an explicit build request
    * must not return a growing-segment-served stale build; lazy
    * serving is a SEARCH-path policy. Scalar INVERTED/STL_SORT/TRIE
    * build nothing: PK-sorted row groups + parquet min/max stats
    * already serve them (Collection.writeDelta).
    */
  def materialize(spark: SparkSession, coll: Collection,
      ix: IndexDef): Unit = {
    import IndexFamily.{Bm25Text, BinIvfFlat, Diskann, Hnsw => HnswF,
      IvfPq, IvfRabitq, IvfSq8, JsonPath, Lsh => LshF, Rtree, Sparse}
    val (f, metric) = (ix.field, ix.metricType.getOrElse("COSINE").toUpperCase)
    val graph = IndexFamily.graphServed(coll.definition, metric)
    IndexFamily.of(ix) match {
      case IvfSq8(nlist) => ensureSq8(spark, coll, f, metric, nlist, false): Unit
      case IvfRabitq(nlist) =>
        ensureRabitq(spark, coll, f, metric, nlist, false): Unit
      case IvfPq(nlist, m, ksub) =>
        ensurePq(spark, coll, f, metric, nlist, m, ksub, false): Unit
      case h: HnswF if graph => ensureHnsw(spark, coll, f, metric, h.m,
        h.efConstruction, h.segments, h.seed, allowStale = false): Unit
      case d: Diskann if graph => ensureDiskann(spark, coll, f, metric, d.r,
        d.l, d.alpha, d.segments, allowStale = false): Unit
      case BinIvfFlat(nlist) => ensureBinIvf(spark, coll, f, nlist, false): Unit
      case LshF(tables, planes, seed) =>
        ensureLsh(spark, coll, f, metric, tables, planes, seed, false): Unit
      case Sparse(buckets, _) => ensureSparse(spark, coll, f, buckets): Unit
      case Bm25Text => ensureBm25(spark, coll, f, Bm25.Params()): Unit
      case Rtree(cellSize) => ensureRtree(spark, coll, f, cellSize): Unit
      case j: JsonPath =>
        if (j.path.isEmpty)
          throw new IllegalArgumentException("JSON_PATH index needs a path")
        ensureJsonPath(spark, coll, f, j.path, j.castType, j.kind,
          j.bitmapCardinality): Unit
      case other => other.ivfNlist.foreach(nlist =>
        ensureIvf(spark, coll, f, metric, nlist, allowStale = false))
    }
  }

  /** Force a rebuild at the current seq (reference rebuild-index op). */
  def rebuild(spark: SparkSession, coll: Collection,
      field: String): Unit = {
    val d = coll.definition
    val ix = d.indexes.find(_.field == field).getOrElse(
      throw new IllegalArgumentException(s"no index on $field"))
    drop(coll, field)
    materialize(spark, coll, ix)
  }

  /** Remove the persisted index and cached models for a field. The
    * derived caches key on versioned paths, which a recreated
    * same-name collection restarts its seq counter into and would
    * REUSE (silently serving the old corpus's bounds or WAND impact
    * stats) — evict by path prefix.
    */
  def drop(coll: Collection, field: String): Unit = {
    val cid = cacheId(coll)
    builds.keySet.removeIf(k => k._1 == cid && k._2 == field)
    val idxPrefix = indexDir(coll, field).toString
    derived.keySet.removeIf(_.startsWith(idxPrefix))
    indexDir(coll, field).deleteRecursively()
  }

  /** Evict every cached build/stat under a collection DIRECTORY — the
    * drop_collection sweep. The per-field [[drop]] covers drop_index,
    * but a dropped COLLECTION whose name is recreated in the same
    * catalog root reuses the cache identity (cacheId IS the
    * directory) and, once its restarted seq counter catches up, the
    * exact tuple keys and versioned paths — so without this sweep a
    * recreated collection serves deleted build paths
    * (PATH_NOT_FOUND at best) or the old corpus's stats (silently
    * wrong WAND prunes at worst).
    */
  def dropAllCached(collectionDir: String): Unit = {
    builds.keySet.removeIf(_._1 == collectionDir)
    derived.keySet.removeIf(_.startsWith(collectionDir))
  }

  /** Build-state introspection for describe_index (the reference reads
    * field_name / index_type / params off describe_index,
    * milvus_client/scalar_index_cycle.py:91-93): the committed
    * pointer's build facts, or None when the field has no persisted
    * build (a declared-only index serves lazily on first search).
    * With per-family pointers a field can hold several live builds
    * (a declared-HNSW collection whose range searches also built the
    * IVF physical path): describe reports the DECLARED index's
    * family when one matches, else the first pointer (deterministic).
    */
  def describe(coll: Collection, field: String): Option[Map[String, String]] = {
    val pointers = allPointers(indexDir(coll, field))
    val declared =
      IndexFamily.declared(coll.definition, field).pointerFamily
    pointers.find(p => kindFamily(p.kind) == declared)
      .orElse(pointers.headOption).map(p => Map(
        "built_seq" -> p.builtSeq.toString,
        "build_kind" -> p.kind,
        "build_metric" -> p.metric,
        "build_nlist" -> p.nlist.toString))
  }

  /** Names of fields with a live persisted build (for describe/stats). */
  def persistedFields(coll: Collection): Seq[String] = {
    val root = coll.catalog.collectionDir(coll.name).resolve("index")
    root.list
      .filter(p => p.resolve("current.json").exists ||
        p.list.exists(f => f.name.startsWith("current_") &&
          f.name.endsWith(".json")))
      .map(_.name).sorted
  }

  // ---- lazy range bounds ----------------------------------------------------

  /** Parse a version dir's persisted `cell_radii.json` (absent on
    * builds that haven't served a bounded query yet and on
    * pre-round-11 layouts; missing SLICES read their conservative
    * defaults — angle pi, norms [0, +inf) — so pruning stays lossless).
    */
  private def readIvfBoundsJson(vdir: StorePath): Option[Ivf.CellBounds] = {
    val rfile = vdir.resolve("cell_radii.json")
    if (!rfile.exists) None
    else {
      val rj = readJson(rfile)
      val radii = (rj \ "radii").extract[Seq[Double]].toArray
      def slice(key: String, default: Double): Array[Double] =
        (rj \ key).extractOpt[Seq[Double]].map(_.toArray)
          .getOrElse(Array.fill(radii.length)(default))
      Some(Ivf.CellBounds(radii, slice("angles", math.Pi),
        slice("max_norm", Double.MaxValue), slice("min_norm", 0.0)))
    }
  }

  /** Per-cell pruning bounds (max L2 radius, max member angle, norm
    * extrema — the exact range-search bounds for L2/COSINE/IP),
    * LAZY (round-12): the build no longer pays the bounds agg; the
    * FIRST bounded query (range search, search iterator) computes them
    * with one column-pruned pass over the persisted layout — reads
    * only (vec, _cid) — persists `cell_radii.json` next to the data
    * for every later load, and memoizes per dataPath (the path is
    * versioned, so DML invalidation is free, same pattern as
    * [[sparseDimStats]]). ANN-only collections never pay the pass. The
    * cache-the-assignment alternative was measured and rejected: caching
    * full rows for the write+bounds pair cost +53% bytes_read and +63%
    * cpu at sf0.1 vs this pruned read, because the cache stores (and
    * re-reads) every column while the read-back touches two.
    */
  def ivfBounds(spark: SparkSession, build: IvfBuild,
      field: String): Ivf.CellBounds =
    build.bounds.getOrElse(derive(build.dataPath) {
      val vdir = StorePath(build.dataPath).parent
      readIvfBoundsJson(vdir).getOrElse {
        val b = Ivf.cellBounds(
          spark.read.parquet(build.dataPath)
            .select(col(field), col("_cid")), field, build.model)
        writeJson(vdir.resolve("cell_radii.json"),
          ("radii" -> b.radii.toSeq) ~ ("angles" -> b.angles.toSeq) ~
            ("max_norm" -> b.maxNorm.toSeq) ~ ("min_norm" -> b.minNorm.toSeq))
        b
      }
    })

  /** Per-cell max member-to-centroid Hamming distance (the exact
    * range-search pruning bound), LAZY with the [[ivfBounds]]
    * discipline. Legacy round-11 builds embedded `radii` inside
    * binivf.json (json4s extracts a MISSING Seq as Nil — empties
    * filtered so they fall through to the lazy compute).
    */
  def binIvfRadii(spark: SparkSession, build: BinIvfBuild,
      field: String): Array[Long] = derive(build.dataPath) {
    val vdir = StorePath(build.dataPath).parent
    val rfile = vdir.resolve("cell_radii.json")
    def radiiIn(f: StorePath): Option[Array[Long]] =
      Some(f).filter(_.exists).flatMap(f =>
        (readJson(f) \ "radii").extractOpt[Seq[Long]].map(_.toArray))
        .filter(_.nonEmpty)
    radiiIn(vdir.resolve("binivf.json")).orElse(radiiIn(rfile)).getOrElse {
      val radii = BinIvf.cellRadii(
        spark.read.parquet(build.dataPath)
          .select(col(field), col(BinIvf.CID)), field, build.model)
      writeJson(rfile, "radii" -> radii.toSeq)
      radii
    }
  }

  // ---- pointer ------------------------------------------------------------

  private final case class Pointer(builtSeq: Long, kind: String,
      metric: String, nlist: Int)

  /** Pointer FAMILY of a build kind — the leading token before the
    * first parameter separator (`hnsw1-8-64-4-42` → `hnsw1`,
    * `pqv1_8_64` → `pqv1`, `ivf2` → `ivf2`; per-path JSON tags and
    * per-cell-size geo tags are single tokens, so each is its own
    * family). Each family commits its own `current_<family>.json`, so
    * two families built over ONE field (a declared-HNSW collection
    * whose over-cap-filtered or range searches serve from the IVF
    * physical path; two JSON-path indexes on one column) coexist
    * instead of clobbering a shared pointer — which forced a full
    * rebuild of the losing family on every route alternation.
    */
  private def kindFamily(kind: String): String =
    kind.takeWhile(c => c != '-' && c != '_')

  private def pointerFile(dir: StorePath, kind: String): StorePath =
    dir.resolve(s"current_${kindFamily(kind)}.json")

  private def commitPointer(dir: StorePath, seq: Long, kind: String,
      metric: String, nlist: Int): Unit = {
    val body = JsonMethods.compact(JsonMethods.render(
      ("builtSeq" -> seq) ~ ("kind" -> kind) ~ ("metric" -> metric) ~
        ("nlist" -> nlist)))
    val tmp = dir.resolve(s"current.json.tmp.${Thread.currentThread().getId}")
    tmp.writeBytes(body.getBytes)
    tmp.moveOver(pointerFile(dir, kind))
    // A superseded legacy single-pointer file must not shadow this
    // family's new pointer for OTHER families' fallback reads.
    val legacy = dir.resolve("current.json")
    if (legacy.exists) legacy.deleteRecursively()
    // GC: keep this build AND the most recent other one OF THE SAME
    // FAMILY (an in-flight lazy scan from a search that started before
    // the pointer swap can still be reading the previous build's
    // parquet — deleting it mid-collect fails that scan). Other
    // families' version dirs are live under their own pointers and are
    // never touched.
    val current = versionDir(dir, seq, kind, metric, nlist).name
    val fam = kindFamily(kind)
    val candidates = dir.list
      .filter(p => p.name.startsWith("v_") && p.name != current)
    // Kindless legacy `v_<seq>` dirs are unreachable (every load path
    // requires a current-layout kind) — reclaim them on any commit.
    candidates.filter(p => dirFamily(p.name).isEmpty)
      .foreach(_.deleteRecursively())
    val others = candidates
      .filter(p => dirFamily(p.name) == fam)
      .sortBy(p => versionSeq(p.name))(Ordering[Long].reverse)
    others.drop(1).foreach(_.deleteRecursively())
  }

  /** Family of a `v_<seq>_<kind>_<metric>_<nlist>` build-dir name:
    * the kind's leading token is the first token after the seq, and
    * [[kindFamily]]'s separator rule applies to the remainder
    * unchanged (the metric/nlist suffix sits past the first
    * separator). Legacy `v_<seq>` names (no kind) report an empty
    * family and are GC'd by every commit, as before.
    */
  private def dirFamily(name: String): String =
    kindFamily(
      name.stripPrefix("v_").dropWhile(_.isDigit).stripPrefix("_"))

  /** Leading seq of a `v_<seq>[_...]` build-dir name (legacy `v_<seq>`
    * names parse too).
    */
  private def versionSeq(name: String): Long =
    name.stripPrefix("v_").takeWhile(_.isDigit) match {
      case "" => -1L
      case n  => n.toLong
    }

  /** Read the pointer for `kind`'s family: the family file when
    * present, else the legacy shared `current.json` a pre-round-11
    * build committed (whose kind may describe another family — callers
    * filter on kind, so a mismatched legacy pointer reads as "no
    * build" exactly as before).
    */
  private def readPointer(dir: StorePath, kind: String): Option[Pointer] = {
    val f = pointerFile(dir, kind)
    if (f.exists) parsePointer(f)
    else {
      val legacy = dir.resolve("current.json")
      if (legacy.exists) parsePointer(legacy) else None
    }
  }

  /** Every live pointer under the field dir (all families + legacy). */
  private def allPointers(dir: StorePath): Seq[Pointer] =
    dir.list
      .filter(p => p.name == "current.json" ||
        (p.name.startsWith("current_") && p.name.endsWith(".json")))
      .sortBy(_.name)
      .flatMap(parsePointer)

  private def parsePointer(f: StorePath): Option[Pointer] =
    if (!f.exists) None
    else {
      val j = readJson(f)
      Some(Pointer((j \ "builtSeq").extract[Long],
        (j \ "kind").extract[String], (j \ "metric").extract[String],
        (j \ "nlist").extract[Int]))
    }

}
