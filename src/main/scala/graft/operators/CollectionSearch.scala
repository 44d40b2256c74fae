package graft.operators

import graft.ann.{BinIvf, Hnsw, Ivf, Lsh, Pq, RaBitQ, SparseInverted, Sq8}
import graft.expr.MilvusExpr
import graft.store.{Collection, CollectionDef, IndexFamily, IndexStore}
import graft.store.IndexStore.{DenseBuild, IvfBuild, LshBuild, PqBuild, RabitqBuild, Sq8Build}
import graft.text.Bm25
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Index-aware search over a store collection: consults the declared
  * IndexDefs (S4, resolved once through the [[IndexFamily]] table) and
  * per-query search params (V4) to pick the physical path — a PERSISTED
  * index build (probe cells prune parquet partition directories) +
  * exact re-rank when an ANN index is declared and a probe budget
  * given, exact scan otherwise. Metric defaults to the index's declared
  * metric_type (workload.py:126-131 default COSINE). [[search]] and
  * [[searchBatch]] share one route resolver ([[resolve]]) and differ
  * only in the per-route kernel (single-query vs batched).
  *
  * Index freshness is delegated to [[IndexStore]]: builds are keyed on
  * the collection's write-seq, so DML invalidates automatically and
  * the first search after a write rebuilds (then every later query
  * reuses the persisted build).
  */
object CollectionSearch {

  /** THE direction rule for dense metrics: similarity metrics (IP,
    * COSINE) page/rank score-DESCENDING, distance metrics ASCENDING.
    * Single source of truth — [[SearchIterator]]'s persisted cursor
    * direction and every keyset/top-k route here must agree, or a
    * resume would re-serve or skip rows. (BM25 and sparse-IP never
    * reach the dense routes; their families fix the direction
    * structurally.)
    */
  private[operators] def simLikeMetric(metric: String): Boolean =
    Set("IP", "COSINE").contains(metric.toUpperCase)

  /** The search filter compiled against `df`; None when empty. */
  private def filterOn(filterExpr: String, df: => DataFrame): Option[Column] =
    if (filterExpr.trim.isEmpty) None
    else Some(MilvusExpr.compile(filterExpr, df))

  /** Partition scoping of a served frame. Persisted builds carry `_part`
    * as the OUTER partition level (or as a data column on unpartitioned
    * layouts), so a partition-scoped search stays on the index route
    * and prunes whole partition subtrees before the probe prunes cells.
    */
  private def scoped(df: DataFrame, partitionNames: Seq[String]): DataFrame =
    if (partitionNames.isEmpty || !df.columns.contains("_part")) df
    else df.filter(col("_part").isin(partitionNames: _*))

  /** The query metric: explicit `metric_type`, else the declared
    * index's, else COSINE — uppercased at resolution: the index
    * layer's pointer matching is case-exact, so a lower-case declared
    * metric alternating with another route's uppercased form would
    * pointer-thrash full rebuilds.
    */
  private def metricOf(d: CollectionDef, vecField: String,
      searchParams: Map[String, String]): String =
    searchParams.get("metric_type")
      .orElse(d.indexes.find(_.field == vecField).flatMap(_.metricType))
      .getOrElse("COSINE").toUpperCase

  /** The filter bitmask for a declared-HNSW graph search: evaluate the
    * compiled filter over the CURRENT merged view (one filtered scan —
    * the same job the IVF fallback's pred costs) and collect the
    * allowed pks, capped at `graft.hnsw.filterMaskCap` (default 1M ≈
    * 8 MB in the task closure). Outer None = over cap, route to the
    * IVF fallback; Some(Some(ids)) = masked graph walk;
    * Some(None) = unfiltered.
    */
  private def hnswFilterMask(spark: SparkSession, coll: Collection,
      filterExpr: String,
      partitionNames: Seq[String]): Option[Option[Array[Long]]] = {
    if (filterExpr.trim.isEmpty) return Some(None)
    val cap = spark.conf.get("graft.hnsw.filterMaskCap", "1000000").toInt
    val data = coll.read(spark, partitionNames)
    val pk = coll.definition.primaryField.name
    val ids = data.filter(MilvusExpr.compile(filterExpr, data))
      .select(col(pk).cast("long")).limit(cap + 1)
      .collect().map(_.getLong(0))
    if (ids.length > cap) None
    else Some(Some(ids.sorted))
  }

  /** The graph serving path: sealed per-(partition, segment) graphs
    * beam-searched with `ef` as the live budget, growing delta rows
    * brute-forced exactly, one global top-k merge — then output fields
    * fetched with a broadcast join of the (nq x k)-row hit set against
    * the collection. Returns (qid, pk, <outputFields>, score).
    */
  private def hnswHits(spark: SparkSession, coll: Collection,
      vecField: String, queries: Seq[(String, Seq[Float])], k: Int,
      ef: Int, metric: String, outputFields: Seq[String],
      partitionNames: Seq[String], graph: IndexFamily.Graph,
      mask: Option[Array[Long]], filterExpr: String): DataFrame = {
    import spark.implicits._
    val d = coll.definition
    val pk = d.primaryField.name
    // Low-selectivity switch (the Milvus brute-force heuristic): a
    // tiny allowed set makes the beam traverse most of every segment
    // graph before it can fill ef allowed results — an exact pk-pruned
    // scan of just the masked rows is both cheaper and exact. The isin
    // predicate pushes to the parquet scan.
    val bfMax = spark.conf.get("graft.hnsw.maskBruteForceMax", "1024").toInt
    val all = mask match {
      case Some(ids) if ids.length <= bfMax =>
        // Null vectors must drop BEFORE scoring (the mask comes from a
        // scalar filter, so null-vector rows pass it): a null L2 score
        // sorts NULLS FIRST under asc and would pollute the top-k.
        val data = coll.read(spark, partitionNames)
          .filter(col(pk).isin(ids.map(java.lang.Long.valueOf): _*))
          .filter(col(vecField).isNotNull)
        val qdf = queries.toDF("qid", "qvec")
        Knn.search(data, qdf, vecField, pk, metric, k)
          .select(col("qid"), col(pk), col("score"))
      case _ =>
        // HNSW and DISKANN share the persisted node-table layout and
        // the walk — only the BUILD differs (hierarchical vs single
        // layer α-pruned with the medoid as the level-1 entry).
        val serve = graph match {
          case IndexFamily.Diskann(r, l, alpha, segs, _) =>
            val b = IndexStore.ensureDiskann(spark, coll, vecField, metric,
              r, l, alpha, segs)
            IndexStore.serveGraph(spark, coll, vecField, b.dataPath, b.builtSeq)
          case h: IndexFamily.Hnsw =>
            IndexStore.serveHnsw(spark, coll, vecField,
              IndexStore.ensureHnsw(spark, coll, vecField, metric, h.m,
                h.efConstruction, h.segments, h.seed))
        }
        val sealedHits =
          Hnsw.searchParts(scoped(serve.sealedGraph, partitionNames), queries,
              pk, k, ef, metric, mask)
            .select(col("qid"), col(pk).cast(d.primaryField.dataType),
              col("score"))
        serve.growing match {
          case None => sealedHits
          case Some(g) =>
            // The growing delta carries its scalar columns, so the
            // filter compiles directly — no mask needed on the
            // brute-force side. Null vectors drop before scoring
            // (nullable-vector inserts land here un-indexed).
            val g2 = scoped(g, partitionNames).filter(col(vecField).isNotNull)
            val qdf = queries.toDF("qid", "qvec")
            sealedHits.unionByName(
              Knn.search(g2, qdf, vecField, pk, metric, k,
                filterOn(filterExpr, g2))
                .select(col("qid"), col(pk), col("score")))
        }
    }
    val simLike = simLikeMetric(metric)
    val primary = if (simLike) col("score").desc else col("score").asc
    val top = Knn.limitPerQid(all, "qid", Seq(primary, col(pk).asc), k)
      .drop("rank")
    val extra = outputFields.distinct.filterNot(f => f == pk || f == "score")
    val withFields =
      if (extra.isEmpty) top
      else coll.read(spark, partitionNames)
        .select((pk +: extra).map(col): _*)
        .join(broadcast(top), Seq(pk))
    withFields.orderBy(col("qid"), primary, col(pk).asc)
  }

  /** A resolved dense top-k route ([[resolve]]). */
  private sealed trait Route
  /** `radius` in the params: a range search capped at the limit. */
  private final case class RangeRoute(radius: Double,
      rangeFilter: Option[Double]) extends Route
  /** LSH buckets; `radius` is the multiprobe budget. */
  private final case class LshRoute(build: LshBuild, served: DataFrame,
      radius: Int) extends Route
  /** Graph walk (or its masked exact scan) with `ef` as the beam. */
  private final case class GraphRoute(graph: IndexFamily.Graph, ef: Int,
      mask: Option[Array[Long]]) extends Route
  /** Probed cells of an IVF-family build (IVF, SQ8, PQ, RaBitQ). */
  private final case class ProbeRoute(build: DenseBuild, served: DataFrame,
      nprobe: Int, refine: Int) extends Route
  private final case class ExactRoute(data: DataFrame) extends Route

  /** THE dense routing table for [[search]] and [[searchBatch]]: which
    * physical path serves the call, with its build ensured and its
    * served frame partition-scoped.
    *
    *  - `radius` in the params → range search capped at `limit` (the
    *    pymilvus form: range semantics ride inside search()). Declared
    *    LSH keeps its multiprobe-budget reading of `radius` UNLESS
    *    `range_filter` also rides along — unambiguously the range form.
    *  - declared LSH → the persisted multi-table bucket layout: the
    *    probe predicate prunes (t, sig) partition directories
    *    (radius >= num_planes probes everything = exact).
    *  - no probe budget (`nprobe` | `ef` | `search_list_size`) → exact.
    *  - declared HNSW/DISKANN → the GENUINE per-segment graph family
    *    when [[IndexFamily.graphServed]] holds (integral pk, graph
    *    metric) and a filter's allowed-pk mask fits its cap — Milvus
    *    evaluates filters into a bitmask the walk consults; an over-cap
    *    mask falls back to the IVF route, whose layout carries the
    *    scalar columns inline.
    *  - IVF_SQ8 / IVF_PQ / IVF_RABITQ → their quantized builds (ADC or
    *    Hamming estimates over the probed cells' narrow code columns,
    *    exact re-rank of k*refine_k).
    *  - every other dense ANN type (IVF_*, AUTOINDEX, SCANN, non-served
    *    graphs) → the IVF build; the budget is the probe count.
    *  - otherwise exact.
    */
  private def resolve(spark: SparkSession, coll: Collection,
      d: CollectionDef, vecField: String, metric: String, filterExpr: String,
      searchParams: Map[String, String],
      partitionNames: Seq[String]): Route = {
    val family = IndexFamily.declared(d, vecField)
    val lsh = family.isInstanceOf[IndexFamily.Lsh]
    if (searchParams.contains("radius") &&
        (!lsh || searchParams.contains("range_filter")))
      return RangeRoute(searchParams("radius").toDouble,
        searchParams.get("range_filter").map(_.toDouble))
    val budget = searchParams.get("nprobe")
      .orElse(searchParams.get("ef"))
      .orElse(searchParams.get("search_list_size")).map(_.toInt)
    // The graph def specifically: a hand-built definition can carry two
    // defs on one field, and its first, non-graph def must not decide.
    val graph = d.indexes.filter(_.field == vecField).map(IndexFamily.of)
      .collectFirst { case g: IndexFamily.Graph => g }
      .filter(_ => !lsh && budget.isDefined &&
        IndexFamily.graphServed(d, metric))
    val mask = graph.flatMap(_ =>
      hnswFilterMask(spark, coll, filterExpr, partitionNames))
    def served(b: DenseBuild): DataFrame =
      scoped(IndexStore.serve(spark, coll, vecField, b), partitionNames)
    def probe(b: DenseBuild): Route = ProbeRoute(b, served(b), budget.get,
      searchParams.get("refine_k").map(_.toInt).getOrElse(4))
    family match {
      case IndexFamily.Lsh(tables, planes, seed) =>
        val b = IndexStore.ensureLsh(spark, coll, vecField, metric, tables,
          planes, seed)
        LshRoute(b, served(b),
          searchParams.get("radius").map(_.toInt).getOrElse(1))
      case _ if mask.isDefined => GraphRoute(graph.get, budget.get, mask.get)
      case f if budget.isEmpty || f.ivfNlist.isEmpty =>
        // Nullable-vector semantics (3.0 feature-inventory plan §4,
        // "nullable vector"): rows whose vector is null are not
        // searchable — and must be dropped BEFORE scoring, because a
        // null distance would sort FIRST under an ascending L2 order
        // and pollute the top-k. (The index paths get this for free:
        // a null vector has a null cell id / code and lands outside
        // every probed partition.)
        ExactRoute(coll.read(spark, partitionNames)
          .filter(col(vecField).isNotNull))
      case IndexFamily.IvfSq8(nlist) =>
        probe(IndexStore.ensureSq8(spark, coll, vecField, metric, nlist))
      case IndexFamily.IvfPq(nlist, m, ksub) =>
        probe(IndexStore.ensurePq(spark, coll, vecField, metric, nlist, m,
          ksub))
      case IndexFamily.IvfRabitq(nlist) =>
        probe(IndexStore.ensureRabitq(spark, coll, vecField, metric, nlist))
      case f =>
        // `_cid` is a physical partition column, so the probe filter
        // prunes directories at the scan (plus the growing delta when
        // the build is stale-served, IndexStore.serve).
        probe(IndexStore.ensureIvf(spark, coll, vecField, metric,
          f.ivfNlist.get))
    }
  }

  def search(
      spark: SparkSession,
      coll: Collection,
      vecField: String,
      queryVec: Seq[Float],
      k: Int,
      filterExpr: String = "",
      searchParams: Map[String, String] = Map.empty,
      outputFields: Seq[String] = Seq.empty,
      partitionNames: Seq[String] = Seq.empty,
      consistencyLevel: String = "Strong",
      orderByFields: Seq[String] = Seq.empty): DataFrame = {
    val d = coll.definition
    val pk = d.primaryField.name
    val metric = metricOf(d, vecField, searchParams)
    // ProbeRoute only ever carries the four IVF-family builds.
    val hits = (resolve(spark, coll, d, vecField, metric, filterExpr,
        searchParams, partitionNames): @unchecked) match {
      case RangeRoute(radius, rangeFilter) =>
        rangeSearchBatch(spark, coll, vecField, Seq(("q", queryVec)), radius,
          rangeFilter, limit = k, filterExpr, searchParams, outputFields,
          partitionNames).drop("qid")
      case LshRoute(b, df, radius) =>
        Lsh.searchOnePersisted(df, b.model, queryVec, vecField, pk, k,
          radius, filterOn(filterExpr, df), outputFields)
      case GraphRoute(graph, ef, mask) =>
        // ef is the beam budget (>= a segment's size switches that
        // segment to its exact fallback).
        hnswHits(spark, coll, vecField, Seq(("q", queryVec)), k, ef, metric,
          outputFields, partitionNames, graph, mask, filterExpr).drop("qid")
      case ProbeRoute(b: Sq8Build, df, nprobe, refine) =>
        Sq8.searchOne(df, b.model, queryVec, vecField, pk, k, nprobe, refine,
          filterOn(filterExpr, df), outputFields)
      case ProbeRoute(b: PqBuild, df, nprobe, refine) =>
        Pq.searchOne(df, b.model, queryVec, vecField, pk, k, nprobe, refine,
          filterOn(filterExpr, df), outputFields)
      case ProbeRoute(b: RabitqBuild, df, nprobe, refine) =>
        RaBitQ.searchOne(df, b.model, queryVec, vecField, pk, k, nprobe,
          refine, metric, filterOn(filterExpr, df), outputFields)
      case ProbeRoute(b: IvfBuild, df, nprobe, _) =>
        Ivf.searchOne(df, b.model, queryVec, vecField, pk, k, nprobe,
          filterOn(filterExpr, df), outputFields)
      case ExactRoute(data) =>
        Knn.searchOne(data, queryVec, vecField, pk, metric, k,
          filterOn(filterExpr, data), outputFields)
    }
    // Server-side ORDER BY of the search RESULT (3.0 plan §2,
    // "Query/Search server-side ORDER BY"): re-sort the k hits by
    // output fields — a k-row sort on top of the ranked result, not a
    // change to which hits are returned.
    if (orderByFields.isEmpty) hits
    else hits.orderBy(orderByFields.map(col): _*)
  }

  /** Batched dense search — the client's nq>1 shape (reference sends
    * nq vectors per call, search_permanently.py:137-189,
    * go_bench/search_horizon_perf_3.go:549-605) as ONE routed Spark
    * job instead of nq sequential driver loops. Routes exactly like
    * [[search]] ([[resolve]]), then runs each route's batched kernel
    * (every probe set ships in one broadcast table, one pass over the
    * union of probed cells). Returns (qid, pk, <outputFields>, score) —
    * the same hits as a per-query [[search]] loop, one job.
    */
  def searchBatch(
      spark: SparkSession,
      coll: Collection,
      vecField: String,
      queryVecs: Seq[(String, Seq[Float])],
      k: Int,
      filterExpr: String = "",
      searchParams: Map[String, String] = Map.empty,
      outputFields: Seq[String] = Seq.empty,
      partitionNames: Seq[String] = Seq.empty): DataFrame = {
    import spark.implicits._
    require(queryVecs.nonEmpty, "batched search needs at least one query")
    val d = coll.definition
    val pk = d.primaryField.name
    val metric = metricOf(d, vecField, searchParams)
    lazy val doubleQs = queryVecs.map { case (qid, qv) =>
      (qid, qv.map(_.toDouble).toArray)
    }
    // ProbeRoute only ever carries the four IVF-family builds.
    val hits = (resolve(spark, coll, d, vecField, metric, filterExpr,
        searchParams, partitionNames): @unchecked) match {
      case RangeRoute(radius, rangeFilter) =>
        rangeSearchBatch(spark, coll, vecField, queryVecs, radius,
          rangeFilter, limit = k, filterExpr, searchParams, outputFields,
          partitionNames)
      case LshRoute(b, df, radius) =>
        Lsh.searchPersistedBatch(df, b.model, queryVecs, vecField, pk, k,
          radius, filterOn(filterExpr, df), outputFields)
      case GraphRoute(graph, ef, mask) =>
        hnswHits(spark, coll, vecField, queryVecs, k, ef, metric,
          outputFields, partitionNames, graph, mask, filterExpr)
      case ProbeRoute(b: Sq8Build, df, nprobe, refine) =>
        Sq8.search(df, b.model, doubleQs, vecField, pk, k, nprobe, refine,
          filterOn(filterExpr, df), outputFields)
      case ProbeRoute(b: PqBuild, df, nprobe, refine) =>
        Pq.search(df, b.model, doubleQs, vecField, pk, k, nprobe, refine,
          filterOn(filterExpr, df), outputFields)
      case ProbeRoute(b: RabitqBuild, df, nprobe, refine) =>
        RaBitQ.search(df, b.model, doubleQs, vecField, pk, k, nprobe,
          refine, metric, filterOn(filterExpr, df), outputFields)
      case ProbeRoute(b: IvfBuild, df, nprobe, _) =>
        Ivf.search(df, b.model, queryVecs.toDF("qid", "qvec"), vecField, pk,
          k, nprobe, filterOn(filterExpr, df), outputFields)
      case ExactRoute(data) =>
        Knn.search(data, queryVecs.toDF("qid", "qvec"), vecField, pk, metric,
          k, filterOn(filterExpr, data), outputCols = outputFields)
    }
    hits.select((col("qid") +: (pk +: outputFields).distinct.map(col)) :+
      col("score"): _*)
  }

  /** Resolve a Milvus filter against the sparse postings frame:
    * pk-only predicates compile directly against the exploded
    * postings; a filter over doc columns (which postings don't carry)
    * compiles against the doc scan instead and restricts the postings
    * via a pk left_semi join — declaring a sparse index must never
    * change which valid filters a search accepts (this was the
    * searchIteratorSparse discipline; now shared by every sparse
    * route).
    */
  private def sparseFilteredPostings(spark: SparkSession,
      coll: Collection, postings: DataFrame, filterExpr: String,
      partitionNames: Seq[String]): DataFrame = {
    val pk = coll.definition.primaryField.name
    filterExpr.trim match {
      case "" => postings
      case f =>
        try postings.filter(MilvusExpr.compile(f, postings))
        catch {
          case _: Exception =>
            val docs = coll.read(spark, partitionNames)
            val pks = docs.filter(MilvusExpr.compile(f, docs)).select(pk)
            postings.join(pks, Seq(pk), "left_semi")
        }
    }
  }

  /** The declared sparse index on `vecField`, if any. */
  private def sparseFamily(d: CollectionDef,
      vecField: String): Option[IndexFamily.Sparse] =
    d.indexes.filter(_.field == vecField).map(IndexFamily.of)
      .collectFirst { case s: IndexFamily.Sparse => s }

  /** The served postings of sparse index `s`, partition-scoped (the
    * postings carry `_part` like the dense family) and filtered.
    */
  private def sparsePostings(spark: SparkSession, coll: Collection,
      vecField: String, s: IndexFamily.Sparse, filterExpr: String,
      partitionNames: Seq[String]): (IndexStore.SparseServe, DataFrame) = {
    val serve = IndexStore.serveSparse(spark, coll, vecField, s.buckets)
    (serve, sparseFilteredPostings(spark, coll,
      scoped(serve.postings, partitionNames), filterExpr, partitionNames))
  }

  /** Sparse-vector search (map<int,double> field). With a declared
    * SPARSE_INVERTED_INDEX / SPARSE_WAND the query joins ONLY its
    * dimensions' persisted posting buckets (exact IP over overlapping
    * docs — non-overlapping docs score 0 and are never returned, the
    * reference engine's behavior); otherwise a brute-force scored scan.
    */
  def searchSparse(
      spark: SparkSession,
      coll: Collection,
      vecField: String,
      query: Map[Int, Double],
      k: Int,
      filterExpr: String = "",
      searchParams: Map[String, String] = Map.empty,
      partitionNames: Seq[String] = Seq.empty): DataFrame = {
    val d = coll.definition
    val pk = d.primaryField.name
    val sparseIx = sparseFamily(d, vecField)
    sparseIx.map { s =>
      val (serve, postings) = sparsePostings(spark, coll, vecField, s,
        filterExpr, partitionNames)
      if (s.wand && !serve.deltaServed) {
        // Max-score/WAND pruning from the persisted per-dim impact
        // stats (collected once per build, cached driver-side) —
        // exact, with automatic fallback when the bounds cannot
        // exclude anything (SparseInverted.searchWand doc). The
        // delta-served frame takes the exact route instead: the
        // persisted bounds don't cover growing postings.
        val stats = IndexStore.sparseDimStats(spark, serve.build)
        SparseInverted.searchWand(postings, stats, query, pk, k,
          serve.build.numBuckets, None).df
      } else {
        SparseInverted.search(postings, query, pk, k,
          serve.build.numBuckets, None)
      }
    }.getOrElse {
      val data = coll.read(spark, partitionNames)
      Knn.searchOneSparse(data, query, vecField, pk, k,
        filterOn(filterExpr, data))
    }
  }

  /** Sparse IP RANGE search (similarity bounds:
    * `radius < s <= range_filter`). With a declared sparse index and
    * radius >= 0 the query joins only its dimensions' persisted
    * posting buckets — a zero-overlap doc scores exactly 0 <= radius,
    * so the dim-keyed join IS the (lossless) prune; the served
    * postings frame already carries the sealed ⊎ growing delta
    * discipline, NO rebuild. radius < 0 (zero-overlap docs qualify but
    * have no postings row) or no index: one exact bounded scan.
    */
  def rangeSearchSparse(
      spark: SparkSession,
      coll: Collection,
      vecField: String,
      query: Map[Int, Double],
      radius: Double,
      rangeFilter: Option[Double] = None,
      limit: Int = Int.MaxValue,
      filterExpr: String = "",
      partitionNames: Seq[String] = Seq.empty): DataFrame = {
    import spark.implicits._
    val d = coll.definition
    val pk = d.primaryField.name
    val sparseIx = sparseFamily(d, vecField)
    val hits =
      if (sparseIx.isDefined && radius >= 0) {
        val (serve, postings) = sparsePostings(spark, coll, vecField,
          sparseIx.get, filterExpr, partitionNames)
        SparseInverted.rangeSearch(postings, query, pk, radius,
          rangeFilter, serve.build.numBuckets, None)
      } else {
        val data = coll.read(spark, partitionNames)
          .filter(col(vecField).isNotNull)
        val pred = filterOn(filterExpr, data)
        val qdf = Seq(Tuple1(query)).toDF("qvec")
        val (score, _) = graft.Functions.metricFor("IP",
          data.schema(vecField).dataType, col(vecField), col("qvec"))
        val upper =
          rangeFilter.map(f => col("score") <= lit(f)).getOrElse(lit(true))
        pred.foldLeft(data)(_ filter _)
          .crossJoin(broadcast(qdf))
          .select(col(pk), score.as("score"))
          .filter(col("score") > lit(radius) && upper)
      }
    if (limit == Int.MaxValue) hits
    else hits.orderBy(col("score").desc, col(pk).asc).limit(limit)
  }

  /** Batched sparse search — the client's nq>1 shape (reference
    * clients batch `search(data=[...])`, common/workload.py:213-229)
    * as ONE Spark job instead of nq sequential ones. Routing mirrors
    * [[searchSparse]]: SPARSE_WAND → batched max-score prune over the
    * persisted postings + impact stats; SPARSE_INVERTED_INDEX → one
    * bucket-pruned aggregation over the union of the queries'
    * dimensions; no declared index → the same batch plan over
    * transient (unpersisted) postings exploded from the live rows.
    * Returns (qid, pk, score); like the single-query index path, a
    * document sharing no dimension with a query scores 0 and is never
    * returned for that query.
    */
  def searchSparseBatch(
      spark: SparkSession,
      coll: Collection,
      vecField: String,
      queries: Seq[(String, Map[Int, Double])],
      k: Int,
      filterExpr: String = "",
      searchParams: Map[String, String] = Map.empty,
      partitionNames: Seq[String] = Seq.empty): DataFrame = {
    val d = coll.definition
    val pk = d.primaryField.name
    val sparseIx = sparseFamily(d, vecField)
    sparseIx.map { s =>
      val (serve, postings) = sparsePostings(spark, coll, vecField, s,
        filterExpr, partitionNames)
      if (s.wand && !serve.deltaServed) {
        // Global per-dim bounds remain VALID (conservative) for any
        // partition-scoped or filtered subset — the prune may keep
        // more candidates, the exact aggregation result is unchanged.
        // (Delta-served frames take the exact route: bounds don't
        // cover growing.)
        val stats = IndexStore.sparseDimStats(spark, serve.build)
        SparseInverted.searchWandBatch(postings, stats, queries, pk, k,
          serve.build.numBuckets, None)
      } else {
        SparseInverted.searchBatch(postings, queries, pk, k,
          serve.build.numBuckets, None)
      }
    }.getOrElse {
      // No declared index: explode the live rows into transient
      // postings for this one job — same plan shape, no persist.
      val buckets = 64
      val postings = SparseInverted.postings(
        coll.read(spark, partitionNames), vecField, pk, buckets)
      SparseInverted.searchBatch(postings, queries, pk, k, buckets,
        filterOn(filterExpr, postings))
    }
  }

  /** Binary-vector search (BINARY_VECTOR field, Hamming metric). With
    * a declared BIN_IVF_FLAT index (go_bench/config.yaml:8,
    * workload.py:148 maps its nprobe) the scan prunes to the query's
    * `nprobe` k-majority cells — directory-level pruning on the
    * persisted `_cid` partitioning; with BIN_FLAT or no index, an
    * exact brute-force Hamming scan (the reference's BIN_FLAT
    * semantics).
    */
  def searchBinary(
      spark: SparkSession,
      coll: Collection,
      vecField: String,
      queryBytes: Array[Byte],
      k: Int,
      filterExpr: String = "",
      searchParams: Map[String, String] = Map.empty,
      outputFields: Seq[String] = Seq.empty,
      partitionNames: Seq[String] = Seq.empty): DataFrame = {
    val d = coll.definition
    val pk = d.primaryField.name
    IndexFamily.declared(d, vecField) match {
      case IndexFamily.BinIvfFlat(nlist) =>
        val nprobe = searchParams.get("nprobe").map(_.toInt).getOrElse(4)
        val build = IndexStore.ensureBinIvf(spark, coll, vecField, nlist)
        val assigned = scoped(IndexStore.serve(spark, coll, vecField, build),
          partitionNames)
        BinIvf.searchOne(assigned, build.model, queryBytes, vecField, pk, k,
          nprobe, filterOn(filterExpr, assigned), outputFields)
      case _ =>
        // Null binary vectors drop before scoring: hammingDistance(null)
        // is null and NULLS FIRST under asc would fill the top-k.
        val data = coll.read(spark, partitionNames)
          .filter(col(vecField).isNotNull)
        Knn.searchOneBinary(data, queryBytes, vecField, pk, k,
          filterOn(filterExpr, data), outputFields)
    }
  }

  /** Group-by search through the collection route — the client's
    * `search(group_by_field=..., group_size=...)` shape
    * (milvus_client/issues.py:79-86; multi-field composite group_by is
    * the 3.0 §2 extension). Served EXACT regardless of declared
    * indexes: Milvus' grouped ANN is approximate, exact grouping is
    * strictly stronger, and the salted two-level group prune in
    * [[Knn.searchGroupByMulti]] keeps the plan scale-safe at large k.
    * The nullable-vector guard applies as in [[search]].
    */
  def searchGroupBy(
      spark: SparkSession,
      coll: Collection,
      vecField: String,
      queryVec: Seq[Float],
      k: Int,
      groupByFields: Seq[String],
      groupSize: Int = 1,
      filterExpr: String = "",
      searchParams: Map[String, String] = Map.empty,
      outputFields: Seq[String] = Seq.empty,
      partitionNames: Seq[String] = Seq.empty): DataFrame = {
    import spark.implicits._
    val d = coll.definition
    val pk = d.primaryField.name
    val data = coll.read(spark, partitionNames)
      .filter(col(vecField).isNotNull)
    val q = Seq(("q0", queryVec)).toDF("qid", "qvec")
    Knn.searchGroupByMulti(data, q, vecField, pk, groupByFields,
      metricOf(d, vecField, searchParams), k, filterOn(filterExpr, data),
      outputFields, groupSize).drop("qid")
  }

  /** Batched binary-vector search — the nq>1 Hamming client shape as
    * ONE job (the [[searchBatch]] contract for BINARY_VECTOR fields).
    * With a declared BIN_IVF_FLAT the batch goes through
    * [[graft.ann.BinIvf.search]] (union of probed cells scanned once,
    * per-pair cell guard); otherwise one exact batched Hamming scan
    * against the broadcast query table. Returns (qid, pk,
    * <outputFields>, score).
    */
  def searchBinaryBatch(
      spark: SparkSession,
      coll: Collection,
      vecField: String,
      queries: Seq[(String, Array[Byte])],
      k: Int,
      filterExpr: String = "",
      searchParams: Map[String, String] = Map.empty,
      outputFields: Seq[String] = Seq.empty,
      partitionNames: Seq[String] = Seq.empty): DataFrame = {
    import spark.implicits._
    require(queries.nonEmpty, "batched search needs at least one query")
    val d = coll.definition
    val pk = d.primaryField.name
    val outSel =
      (col("qid") +: (pk +: outputFields).distinct.map(col)) :+ col("score")
    IndexFamily.declared(d, vecField) match {
      case IndexFamily.BinIvfFlat(nlist) =>
        val nprobe = searchParams.get("nprobe").map(_.toInt).getOrElse(4)
        val build = IndexStore.ensureBinIvf(spark, coll, vecField, nlist)
        val assigned = scoped(IndexStore.serve(spark, coll, vecField, build),
          partitionNames)
        BinIvf.search(assigned, build.model, queries, vecField, pk, k,
          nprobe, filterOn(filterExpr, assigned), outputFields)
          .select(outSel: _*)
      case _ =>
        // Null binary vectors drop before scoring (see searchBinary).
        val data = coll.read(spark, partitionNames)
          .filter(col(vecField).isNotNull)
        val pred = filterOn(filterExpr, data)
        val qdf = queries.toDF("qid", "_qbytes")
        val scored = pred.foldLeft(data)(_ filter _)
          .crossJoin(broadcast(qdf))
          .select((col("qid") +: (pk +: outputFields).distinct.map(col)) :+
            graft.Functions.hammingDistance(col(vecField), col("_qbytes"))
              .as("score"): _*)
        Knn.limitPerQid(scored, "qid", Seq(col("score").asc, col(pk).asc), k)
          .select(outSel: _*)
    }
  }

  /** BM25 full-text search against the collection's persisted postings
    * index (built/maintained by [[IndexStore]]): the scan touches only
    * the query terms' bucket directories, never the corpus.
    */
  /** Dense search with TEXT query data (the model-provider surface:
    * when `anns_field` is the output of a TEXT_EMBEDDING function,
    * `search(data=["query text"], ...)` encodes the text with the
    * collection's bound function and runs the regular vector search —
    * index routing, filters, params and output_fields all apply
    * unchanged). The query encode is a driver-side mirror of the
    * stored-row encode expression: no Spark job, exact parity.
    */
  def searchByQueryText(
      spark: SparkSession,
      coll: Collection,
      vecField: String,
      queryText: String,
      k: Int,
      filterExpr: String = "",
      searchParams: Map[String, String] = Map.empty,
      outputFields: Seq[String] = Seq.empty,
      partitionNames: Seq[String] = Seq.empty,
      consistencyLevel: String = "Strong",
      orderByFields: Seq[String] = Seq.empty): DataFrame = {
    val f = coll.definition.functions.find(fn =>
      fn.functionType.toUpperCase == "TEXT_EMBEDDING" &&
        fn.outputFields.contains(vecField)).getOrElse(
      throw new IllegalArgumentException(
        s"$vecField is not the output of a TEXT_EMBEDDING function"))
    val qv = graft.functions.TextEmbedding
      .encodeLocal(queryText, f.params("dim").toInt)
    search(spark, coll, vecField, qv, k, filterExpr, searchParams,
      outputFields, partitionNames, consistencyLevel, orderByFields)
  }

  /** Batched TEXT query search — `search(data=["t1", "t2", ...])`
    * against a TEXT_EMBEDDING output field: each text encodes
    * driver-side with the collection's bound function (exact parity
    * with the stored-row encode), then ONE batched routed job serves
    * all nq queries (the [[searchBatch]] contract).
    */
  def searchByQueryTextBatch(
      spark: SparkSession,
      coll: Collection,
      vecField: String,
      queryTexts: Seq[(String, String)],
      k: Int,
      filterExpr: String = "",
      searchParams: Map[String, String] = Map.empty,
      outputFields: Seq[String] = Seq.empty,
      partitionNames: Seq[String] = Seq.empty): DataFrame = {
    val f = coll.definition.functions.find(fn =>
      fn.functionType.toUpperCase == "TEXT_EMBEDDING" &&
        fn.outputFields.contains(vecField)).getOrElse(
      throw new IllegalArgumentException(
        s"$vecField is not the output of a TEXT_EMBEDDING function"))
    val dim = f.params("dim").toInt
    val qs = queryTexts.map { case (qid, text) =>
      qid -> graft.functions.TextEmbedding.encodeLocal(text, dim)
    }
    searchBatch(spark, coll, vecField, qs, k, filterExpr, searchParams,
      outputFields, partitionNames)
  }

  def searchText(
      spark: SparkSession,
      coll: Collection,
      textField: String,
      query: String,
      k: Int,
      params: Bm25.Params = Bm25.Params(),
      outputFields: Seq[String] = Seq.empty): DataFrame = {
    val pk = coll.definition.primaryField.name
    // Sealed/growing delta serving: small post-DML deltas are merged
    // at query time with exactly-adjusted stats instead of triggering
    // a full index rebuild (IndexStore.searchTextServed).
    val top = IndexStore.searchTextServed(spark, coll, textField, params,
      query, k)
    if (outputFields.isEmpty) top
    // broadcast the k-row top side: without the hint this plans a
    // sort-merge join that shuffles the whole corpus for a k-row
    // lookup (the hnswHits output-fields pattern).
    else coll.read(spark).join(broadcast(top), Seq(pk))
      .select((pk +: outputFields :+ "score").distinct.map(col): _*)
  }

  /** Element-scope search through the collection API
    * (`search_scope=element`, feature-inventory doc §1): explode the
    * StructArray field of the merged collection view and run the flat
    * element top-k. The element filter is a Milvus expr compiled
    * against the exploded frame, where struct subfields are top-level
    * columns — so the whole §2.6 grammar applies to element filters
    * unchanged.
    */
  def searchElements(
      spark: SparkSession,
      coll: Collection,
      structArrayField: String,
      vecSubField: String,
      queryVec: Seq[Float],
      k: Int,
      metricType: String = "L2",
      elementFilterExpr: String = "",
      partitionNames: Seq[String] = Seq.empty,
      outputSubfields: Seq[String] = Seq.empty): DataFrame = {
    val pk = coll.definition.primaryField.name
    val data = coll.read(spark, partitionNames)
    val filter =
      if (elementFilterExpr.isEmpty) None
      else Some(MilvusExpr.compile(elementFilterExpr,
        ElementSearch.elements(data, structArrayField, pk)))
    // Scan-width contract: empty outputSubfields reads every subfield
    // (safe default); a non-empty list prunes the scan to the named
    // subfields plus the vector and whatever the filter references —
    // the 100 TB knob for elements carrying fat payload subfields.
    val subfields =
      if (outputSubfields.isEmpty) Seq.empty[String]
      else {
        val filterRefs = filter.toSeq.flatMap(c =>
          org.apache.spark.sql.graft.Shims.expression(c).collect {
            case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
              a.name
          })
        (outputSubfields ++ filterRefs :+ vecSubField).distinct
      }
    ElementSearch.searchElements(data, structArrayField, vecSubField, pk,
      queryVec, metricType, k, filter, subfields)
  }

  /** Search-by-PK (3.0 surface, feature-inventory doc §1-2): fetch the
    * entity's own vector, then V1.
    */
  def searchByPk(
      spark: SparkSession,
      coll: Collection,
      vecField: String,
      pkValue: Any,
      k: Int,
      searchParams: Map[String, String] = Map.empty,
      outputFields: Seq[String] = Seq.empty): DataFrame = {
    val d = coll.definition
    val pk = d.primaryField.name
    // Fail with named client-facing errors (the searchByQueryText
    // convention) instead of a bare head-on-empty NoSuchElementException
    // or a deep NPE from a null nullable vector.
    val rows = coll.read(spark).filter(col(pk) === lit(pkValue))
      .select(vecField).limit(1).collect()
    require(rows.nonEmpty,
      s"search_by_pk: no entity with $pk = $pkValue")
    val vec = rows.head.getSeq[Float](0)
    require(vec != null,
      s"search_by_pk: entity $pk = $pkValue has a null $vecField")
    search(spark, coll, vecField, vec, k, searchParams = searchParams,
      outputFields = outputFields)
  }

  /** The IVF build serving the exact bounded routes (range search, the
    * search iterator): every dense ANN declaration under a true metric
    * (the triangle-inequality cell bounds need one; FLAT declares brute
    * force) — with its sealed ⊎ growing split and per-cell bounds.
    * Bounds are lazy since round 12: the first bounded query over a
    * build computes and persists them (one column-pruned pass).
    */
  private def boundedIvf(spark: SparkSession, coll: Collection,
      d: CollectionDef, vecField: String, metric: String
  ): Option[(IvfBuild, IndexStore.DenseSplit, Ivf.CellBounds)] =
    IndexFamily.declared(d, vecField).ivfNlist
      .filter(_ => Set("L2", "COSINE", "IP").contains(metric)).map { nlist =>
        val b = IndexStore.ensureIvf(spark, coll, vecField, metric, nlist)
        (b, IndexStore.serveDenseSplit(spark, coll, vecField, b.dataPath,
          b.builtSeq), IndexStore.ivfBounds(spark, b, vecField))
      }

  /** Index-aware RANGE search (reference surface: `radius` +
    * `range_filter` in search params, validators.py's range assertions;
    * Milvus bound semantics — L2: range_filter <= d < radius;
    * similarity metrics: radius < s <= range_filter).
    *
    * Routing: with a dense ANN index declared on the field and an L2
    * or COSINE metric, the sealed build serves through
    * [[Ivf.rangeSearch]] / [[Ivf.rangeSearchCosine]]'s EXACT cell
    * pruning — the persisted per-cell bounds (max member L2 radius /
    * max member angle) prove whole cells out-of-band via the (L2 /
    * spherical) triangle inequality, so the scan touches only
    * surviving `_cid` directories; post-DML delta rows are scanned
    * exactly on the side (the sealed bounds don't cover them), masked
    * rows anti-joined out — the same sealed ⊎ growing discipline as
    * every family, NO rebuild. IP routes through
    * [[Ivf.rangeSearchIp]]'s norm x angle decomposition (no triangle
    * inequality on the product, but the angle obeys the spherical one
    * and per-cell norm extrema bound the magnitude). Both band edges
    * prune on every route. Unindexed: one exact bounded scan. Unlike
    * the top-k routes the result is ALWAYS exact — pruning is
    * lossless.
    */
  def rangeSearch(
      spark: SparkSession,
      coll: Collection,
      vecField: String,
      queryVec: Seq[Float],
      radius: Double,
      rangeFilter: Option[Double] = None,
      limit: Int = Int.MaxValue,
      filterExpr: String = "",
      searchParams: Map[String, String] = Map.empty,
      outputFields: Seq[String] = Seq.empty,
      partitionNames: Seq[String] = Seq.empty): DataFrame =
    rangeSearchBatch(spark, coll, vecField, Seq(("q", queryVec)), radius,
      rangeFilter, limit, filterExpr, searchParams, outputFields,
      partitionNames).drop("qid")

  /** Batched [[rangeSearch]]: nq queries in one job (per-query allowed
    * cells computed driver-side from the persisted radii, shipped with
    * the broadcast query table — the [[Ivf.search]] batch shape).
    */
  def rangeSearchBatch(
      spark: SparkSession,
      coll: Collection,
      vecField: String,
      queries: Seq[(String, Seq[Float])],
      radius: Double,
      rangeFilter: Option[Double] = None,
      limit: Int = Int.MaxValue,
      filterExpr: String = "",
      searchParams: Map[String, String] = Map.empty,
      outputFields: Seq[String] = Seq.empty,
      partitionNames: Seq[String] = Seq.empty): DataFrame = {
    import spark.implicits._
    val d = coll.definition
    val pk = d.primaryField.name
    val metric = metricOf(d, vecField, searchParams)
    def bruteRange(data: DataFrame): DataFrame = {
      val pred = filterOn(filterExpr, data)
      val filtered = pred.map(data.filter).getOrElse(data)
      val qdf = queries.map { case (q, v) => (q, v.map(_.toDouble)) }
        .toDF("qid", "qvec")
      val (score, simLike) = graft.Functions.metricFor(metric,
        data.schema(vecField).dataType, col(vecField), col("qvec"))
      val cols = (pk +: outputFields).distinct.map(col)
      val keep =
        if (simLike)
          col("score") > lit(radius) &&
            rangeFilter.map(f => col("score") <= lit(f)).getOrElse(lit(true))
        else
          col("score") < lit(radius) &&
            rangeFilter.map(f => col("score") >= lit(f)).getOrElse(lit(true))
      filtered.crossJoin(broadcast(qdf))
        .select((col("qid") +: cols) :+ score.as("score"): _*)
        .filter(keep)
    }
    val hits = boundedIvf(spark, coll, d, vecField, metric).map {
      case (b, split, cb) =>
        val sealedScoped = scoped(split.sealedRows, partitionNames)
        val predS = filterOn(filterExpr, sealedScoped)
        val sealedHits = metric match {
          case "L2" =>
            Ivf.rangeSearch(sealedScoped, b.model,
              cb.radii, queries, vecField, pk, radius,
              rangeFilter, predS, outputFields)
          case "COSINE" =>
            Ivf.rangeSearchCosine(sealedScoped, b.model,
              cb.angles, queries, vecField, pk, radius, rangeFilter,
              predS, outputFields)
          case _ =>
            Ivf.rangeSearchIp(sealedScoped, b.model,
              cb, queries, vecField, pk,
              radius, rangeFilter, predS, outputFields)
        }
        split.growing.fold(sealedHits)(g =>
          sealedHits.unionByName(bruteRange(scoped(g, partitionNames))))
    }.getOrElse(bruteRange(coll.read(spark, partitionNames)))
    if (limit == Int.MaxValue) hits
    else {
      val simLike = simLikeMetric(metric)
      val primary = if (simLike) col("score").desc else col("score").asc
      // drop the window's internal rank: every other route strips it
      // and result schema must not depend on which route served.
      Knn.limitPerQid(hits, "qid", Seq(primary, col(pk).asc), limit)
        .drop("rank")
    }
  }

  /** Parse + cross-validate the iterator band params. pymilvus
    * rejects malformed radius/range_filter at call time; before
    * round 13 an inverted band (e.g. L2 with range_filter >= radius)
    * silently yielded empty pages and a non-numeric value surfaced as
    * a bare NumberFormatException. Valid band relationship per metric
    * direction — L2/HAMMING (distance): range_filter < radius;
    * IP/COSINE (similarity): radius < range_filter.
    */
  private def bandParams(searchParams: Map[String, String],
      simLike: Boolean): (Option[Double], Option[Double]) = {
    def num(key: String): Option[Double] = searchParams.get(key).map { v =>
      try v.toDouble catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"search param $key must be numeric, got '$v'")
      }
    }
    val radius = num("radius")
    val rangeFilter = num("range_filter")
    for (r <- radius; f <- rangeFilter)
      require(if (simLike) r < f else f < r,
        if (simLike)
          s"invalid similarity band: radius ($r) must be < range_filter ($f)"
        else
          s"invalid distance band: range_filter ($f) must be < radius ($r)")
    (radius, rangeFilter)
  }

  /** SEARCH ITERATOR page (the pymilvus `search_iterator` shape, the
    * collection-level sibling of [[graft.operators.ElementSearch
    * .searchIteratorElements]]): EXACT deep kNN pagination in score
    * order, keyset-cursored on `(score, pk)` so pages never re-rank
    * or skip under concurrent-page reads — batch N+1 passes batch N's
    * last row as `after`.
    *
    * Unlike the probe-budget top-k routes this is EXACT at every
    * depth: each page is the true global next `batchSize` rows. The
    * per-cell bounds the range-search family persists prune here in
    * the OTHER direction — a cell whose FARTHEST member provably
    * scores before the cursor (L2: d(q,c_i) + rmax_i < cursor;
    * COSINE: cos(min(π, θ(q,c_i) + amax_i)) > cursor) holds no page
    * row, so the deeper the iterator goes the more near cells the
    * scan skips — directory-pruned when `_cid` is physical. Growing
    * delta rows scan exactly on the side, NO rebuild. Page 1 (no
    * cursor) runs the exact two-phase probe budget (round-12): probe
    * the nprobe nearest cells for a conservative batchSize-th score
    * tau, then scan only cells whose best possible member could reach
    * tau — exact at lower bytes than the former full scan, with a
    * full-route fallback when the probed cells hold < batchSize rows.
    */
  def searchIterator(
      spark: SparkSession,
      coll: Collection,
      vecField: String,
      queryVec: Seq[Float],
      batchSize: Int,
      after: Option[(Double, Any)] = None,
      filterExpr: String = "",
      searchParams: Map[String, String] = Map.empty,
      outputFields: Seq[String] = Seq.empty,
      partitionNames: Seq[String] = Seq.empty): DataFrame = {
    import spark.implicits._
    val d = coll.definition
    val pk = d.primaryField.name
    val m = metricOf(d, vecField, searchParams)
    val simLike = simLikeMetric(m)
    def keyset(scored: DataFrame): DataFrame = after match {
      case None => scored
      case Some((s0, p0)) =>
        val beyond =
          if (simLike) col("score") < lit(s0) else col("score") > lit(s0)
        scored.filter(beyond ||
          (col("score") === lit(s0) && col(pk) > lit(p0)))
    }
    // Banded iteration (the pymilvus search_iterator radius /
    // range_filter params): pages walk only scores inside the band —
    // L2: range_filter <= d < radius; IP/COSINE: radius < s <=
    // range_filter (the range-search family's own conventions). The
    // band applies INSIDE score(), so the page-1 probe budget stays
    // exact: the collected probe top is the band's top, tau is the
    // band's batchSize-th score, and phase 2's could-beat bound is
    // conservative for any subset of the scored frame.
    val (radius, rangeFilter) = bandParams(searchParams, simLike)
    def band(df: DataFrame): DataFrame = {
      val outer = radius.map(r =>
        if (simLike) col("score") > lit(r) else col("score") < lit(r))
      val inner = rangeFilter.map(f =>
        if (simLike) col("score") <= lit(f) else col("score") >= lit(f))
      (outer.toSeq ++ inner.toSeq).foldLeft(df)(_ filter _)
    }
    def score(data: DataFrame): DataFrame = {
      val pred = filterOn(filterExpr, data)
      val qdf = Seq(("q", queryVec.map(_.toDouble))).toDF("qid", "qvec")
      val (sc, _) = graft.Functions.metricFor(m,
        data.schema(vecField).dataType, col(vecField), col("qvec"))
      val cols = (pk +: outputFields).distinct.map(col)
      band(pred.foldLeft(data.filter(col(vecField).isNotNull))(_ filter _)
        .crossJoin(broadcast(qdf))
        .select((col("qid") +: cols) :+ sc.as("score"): _*))
    }
    val scored = boundedIvf(spark, coll, d, vecField, m).map {
      case (b, split, cb) =>
        // Cursor lower-bound prune (slack keeps it strictly
        // conservative against driver-vs-codegen ulp drift).
        val q = queryVec.map(_.toDouble).toArray
        def qcAngle(i: Int): Double = {
          val c = b.model.centroids(i)
          var dot = 0.0; var na = 0.0; var nb = 0.0; var j = 0
          val n = math.min(q.length, c.length)
          while (j < n) {
            dot += q(j) * c(j); na += q(j) * q(j); nb += c(j) * c(j)
            j += 1
          }
          val den = math.sqrt(na) * math.sqrt(nb)
          val sim = if (den == 0.0) 0.0 else dot / den
          math.acos(math.max(-1.0, math.min(1.0, sim)))
        }
        def qcDist(i: Int): Double = {
          val c = b.model.centroids(i)
          var s = 0.0; var j = 0
          val n = math.min(q.length, c.length)
          while (j < n) { val x = q(j) - c(j); s += x * x; j += 1 }
          math.sqrt(s)
        }
        def sealedScored(cells: Seq[Int]): DataFrame =
          score(scoped(split.sealedRows, partitionNames)
            .filter(col("_cid").isin(cells: _*)))
        val growingScored: Option[DataFrame] =
          split.growing.map(g => score(scoped(g, partitionNames)))
        def withGrowing(sealed0: DataFrame): DataFrame =
          growingScored.fold(sealed0)(sealed0.unionByName(_))
        val qn = math.sqrt(q.map(v => v * v).sum)
        after match {
          case Some((s0, _)) =>
            val keep: Int => Boolean = m match {
              case "L2" =>
                i => qcDist(i) + cb.radii(i) >= s0 - 1e-9
              case "IP" =>
                // Descending pages: a cell whose MINIMUM possible
                // product exceeds the cursor was fully returned
                // already.
                i => {
                  val cosMin = math.cos(
                    math.min(math.Pi, qcAngle(i) + cb.angles(i) + 1e-6))
                  val minS = qn * (if (cosMin >= 0) cb.minNorm(i) * cosMin
                                   else cb.maxNorm(i) * cosMin)
                  minS <= s0 + 1e-9
                }
              case _ =>
                i => math.cos(math.min(math.Pi,
                  qcAngle(i) + cb.angles(i) + 1e-6)) <= s0 + 1e-9
            }
            withGrowing(sealedScored(
              b.model.centroids.indices.filter(keep)))
          case None =>
            // ---- Page-1 probe budget (round-12): page 1 has no
            // cursor to prune against, but it does NOT need a full
            // scan to stay exact. Two phases, both exact:
            //   1. PROBE the nprobe nearest SEALED cells and COLLECT
            //      their true top batchSize (TakeOrderedAndProject —
            //      one pass over the probed cells, batchSize rows to
            //      the driver; a page is client-bound by contract, so
            //      the collect is the size of the page the caller
            //      receives anyway — NOT orderBy.limit.checkpoint,
            //      whose RDD path plans a full range sort that SAMPLES
            //      the probed cells and then shuffles them: measured
            //      to cost more bytes than the full scan it replaced).
            //      The last collected row's score is tau, the
            //      batchSize-th best of the subset — a conservative
            //      bound on the true kth; a probed cell's rows beyond
            //      its subset top-batchSize provably miss the global
            //      top-batchSize.
            //   2. VERIFY: scan only the REMAINING cells whose BEST
            //      possible member (centroid distance minus max member
            //      radius — the persisted range-search bounds used in
            //      the top-k direction) could still reach tau; union
            //      the re-parallelized probe top and the always-exact
            //      growing side. Ties at tau are kept by the epsilon
            //      slack, so the pk tiebreak stays exact.
            // Shortfall (probed cells held < batchSize matching rows —
            // tiny collections, selective filters) widens phase 2 to
            // every remaining cell: the collected probe top is then
            // the COMPLETE row set of the probed cells, so the union
            // stays exact. Probed cells are read once either way and
            // kept ⊆ all, so bytes never exceed the old full scan; on
            // clustered data the far cells drop out.
            val nprobe = searchParams.get("nprobe").map(_.toInt)
              .getOrElse(math.max(1, b.model.k / 4))
            val order: Int => Double = if (m == "L2") qcDist else qcAngle
            val probeCells = b.model.centroids.indices
              .sortBy(i => (order(i), i)).take(math.max(1, nprobe))
            val probePrimary =
              if (simLike) col("score").desc else col("score").asc
            val probeScored = sealedScored(probeCells)
            val topRows = probeScored
              .orderBy(probePrimary, col(pk).asc).limit(batchSize)
              .collect()
            import scala.jdk.CollectionConverters._
            val probeTop = spark.createDataFrame(
              topRows.toSeq.asJava, probeScored.schema)
            val probeSet = probeCells.toSet
            val rest: Seq[Int] =
              if (topRows.length < batchSize)
                b.model.centroids.indices.filterNot(probeSet)
              else {
                val tau = topRows.last
                  .getDouble(topRows.last.fieldIndex("score"))
                val couldBeat: Int => Boolean = m match {
                  case "L2" =>
                    i => qcDist(i) - cb.radii(i) <= tau + 1e-9
                  case "IP" =>
                    i => {
                      val cosMax = math.cos(
                        math.max(0.0, qcAngle(i) - cb.angles(i) - 1e-6))
                      val maxS =
                        qn * (if (cosMax >= 0) cb.maxNorm(i) * cosMax
                              else cb.minNorm(i) * cosMax)
                      maxS >= tau - 1e-9
                    }
                  case _ =>
                    i => math.cos(math.max(0.0,
                      qcAngle(i) - cb.angles(i) - 1e-6)) >= tau - 1e-9
                }
                b.model.centroids.indices
                  .filter(i => !probeSet(i) && couldBeat(i))
              }
            withGrowing(probeTop.unionByName(sealedScored(rest)))
        }
    }.getOrElse(score(coll.read(spark, partitionNames)))
    val primary = if (simLike) col("score").desc else col("score").asc
    Knn.limitPerQid(keyset(scored), "qid", Seq(primary, col(pk).asc),
      batchSize).drop("qid", "rank")
  }

  /** The BIN_IVF_FLAT build serving the exact bounded binary routes,
    * with its lazily computed per-cell Hamming radii and sealed ⊎
    * growing split.
    */
  private def boundedBinIvf(spark: SparkSession, coll: Collection,
      d: CollectionDef, vecField: String
  ): Option[(IndexStore.BinIvfBuild, Array[Long], IndexStore.DenseSplit)] =
    IndexFamily.declared(d, vecField) match {
      case IndexFamily.BinIvfFlat(nlist) =>
        val b = IndexStore.ensureBinIvf(spark, coll, vecField, nlist)
        Some((b, IndexStore.binIvfRadii(spark, b, vecField),
          IndexStore.serveDenseSplit(spark, coll, vecField, b.dataPath,
            b.builtSeq)))
      case _ => None
    }

  /** BINARY range search (Hamming bounds, the L2 direction:
    * `range_filter <= d < radius`): with a declared BIN_IVF_FLAT the
    * sealed build serves through [[BinIvf.rangeSearch]]'s EXACT cell
    * pruning on the persisted per-cell Hamming radii (Hamming IS a
    * metric); post-DML delta rows scan exactly on the side via the
    * sealed ⊎ growing split, NO rebuild. Unindexed: one exact bounded
    * scan. Always exact — pruning is lossless.
    */
  def rangeSearchBinary(
      spark: SparkSession,
      coll: Collection,
      vecField: String,
      queries: Seq[(String, Array[Byte])],
      radius: Double,
      rangeFilter: Option[Double] = None,
      limit: Int = Int.MaxValue,
      filterExpr: String = "",
      outputFields: Seq[String] = Seq.empty,
      partitionNames: Seq[String] = Seq.empty): DataFrame = {
    import spark.implicits._
    val d = coll.definition
    val pk = d.primaryField.name
    def bruteRange(data: DataFrame): DataFrame = {
      val pred = filterOn(filterExpr, data)
      val qdf = queries.toDF("qid", "_qbytes")
      val cols = (pk +: outputFields).distinct.map(col)
      pred.foldLeft(data)(_ filter _)
        .crossJoin(broadcast(qdf))
        .select((col("qid") +: cols) :+
          graft.Functions.hammingDistance(col(vecField), col("_qbytes"))
            .as("score"): _*)
        .filter(col("score") < lit(radius) &&
          rangeFilter.map(f => col("score") >= lit(f)).getOrElse(lit(true)))
    }
    val hits = boundedBinIvf(spark, coll, d, vecField).map {
      case (b, radii, split) =>
        val sealedScoped = scoped(split.sealedRows, partitionNames)
        val predS = filterOn(filterExpr, sealedScoped)
        val sealedHits = BinIvf.rangeSearch(sealedScoped, b.model, radii,
          queries, vecField, pk, radius, rangeFilter, predS, outputFields)
        split.growing.fold(sealedHits)(g =>
          sealedHits.unionByName(bruteRange(scoped(g, partitionNames))))
    }.getOrElse(bruteRange(coll.read(spark, partitionNames)))
    if (limit == Int.MaxValue) hits
    else Knn.limitPerQid(hits, "qid", Seq(col("score").asc, col(pk).asc),
      limit).drop("rank")
  }

  /** BINARY search iterator (HAMMING, ascending) — the
    * [[searchIterator]] contract over BIN_IVF_FLAT collections: EXACT
    * keyset pagination on (score, pk); the persisted per-cell Hamming
    * radii prune deep pages on the far side (Hamming IS a metric, so
    * d(q,c_i) + rmax_i < cursor proves the cell fully returned) and
    * page 1 runs the same two-phase probe budget (collected
    * TakeOrdered top over the nprobe nearest cells → tau → only
    * remaining cells whose best possible member reaches tau); sealed ⊎
    * growing delta serving, NO rebuild. Scores surface as DOUBLE so
    * the cursor contract matches the dense iterator's. Unindexed
    * collections page with exact full scans.
    */
  def searchIteratorBinary(
      spark: SparkSession,
      coll: Collection,
      vecField: String,
      queryBytes: Array[Byte],
      batchSize: Int,
      after: Option[(Double, Any)] = None,
      filterExpr: String = "",
      searchParams: Map[String, String] = Map.empty,
      outputFields: Seq[String] = Seq.empty,
      partitionNames: Seq[String] = Seq.empty): DataFrame = {
    import spark.implicits._
    val d = coll.definition
    val pk = d.primaryField.name
    def keyset(scored: DataFrame): DataFrame = after match {
      case None => scored
      case Some((s0, p0)) =>
        scored.filter(col("score") > lit(s0) ||
          (col("score") === lit(s0) && col(pk) > lit(p0)))
    }
    // Banded iteration (radius / range_filter params; Hamming is
    // distance-like: range_filter <= d < radius). Applied inside
    // score(), so the probe-budget tau is the band's own — see the
    // dense route's note.
    val (radius, rangeFilter) = bandParams(searchParams, simLike = false)
    def band(df: DataFrame): DataFrame =
      (radius.map(r => col("score") < lit(r)).toSeq ++
        rangeFilter.map(f => col("score") >= lit(f)).toSeq)
        .foldLeft(df)(_ filter _)
    def score(data: DataFrame): DataFrame = {
      val pred = filterOn(filterExpr, data)
      val qdf = Seq(("q", queryBytes)).toDF("qid", "_qbytes")
      val cols = (pk +: outputFields).distinct.map(col)
      band(pred.foldLeft(data.filter(col(vecField).isNotNull))(_ filter _)
        .crossJoin(broadcast(qdf))
        .select((col("qid") +: cols) :+
          graft.Functions.hammingDistance(col(vecField), col("_qbytes"))
            .cast("double").as("score"): _*))
    }
    val scored = boundedBinIvf(spark, coll, d, vecField).map {
      case (b, radii, split) =>
        def qc(i: Int): Long = {
          val c = b.model.centroids(i)
          var s = 0L; var j = 0
          val n = math.min(queryBytes.length, c.length)
          while (j < n) {
            s += java.lang.Integer.bitCount((queryBytes(j) ^ c(j)) & 0xff)
            j += 1
          }
          s
        }
        def sealedScored(cells: Seq[Int]): DataFrame =
          score(scoped(split.sealedRows, partitionNames)
            .filter(col(BinIvf.CID).isin(cells: _*)))
        val growingScored: Option[DataFrame] =
          split.growing.map(g => score(scoped(g, partitionNames)))
        def withGrowing(sealed0: DataFrame): DataFrame =
          growingScored.fold(sealed0)(sealed0.unionByName(_))
        after match {
          case Some((s0, _)) =>
            // Far-side cursor prune: a cell whose farthest member
            // provably scores before the cursor holds no page row.
            withGrowing(sealedScored(b.model.centroids.indices
              .filter(i => qc(i) + radii(i) >= s0 - 1e-9)))
          case None =>
            // Page-1 probe budget (see searchIterator — identical
            // two-phase structure under the Hamming triangle
            // inequality).
            val nprobe = searchParams.get("nprobe").map(_.toInt)
              .getOrElse(math.max(1, b.model.k / 4))
            val probeCells = b.model.centroids.indices
              .sortBy(i => (qc(i), i)).take(math.max(1, nprobe))
            val probeScored = sealedScored(probeCells)
            val topRows = probeScored
              .orderBy(col("score").asc, col(pk).asc).limit(batchSize)
              .collect()
            import scala.jdk.CollectionConverters._
            val probeTop = spark.createDataFrame(
              topRows.toSeq.asJava, probeScored.schema)
            val probeSet = probeCells.toSet
            val rest: Seq[Int] =
              if (topRows.length < batchSize)
                b.model.centroids.indices.filterNot(probeSet)
              else {
                val tau = topRows.last
                  .getDouble(topRows.last.fieldIndex("score"))
                b.model.centroids.indices.filter(i =>
                  !probeSet(i) && qc(i) - radii(i) <= tau + 1e-9)
              }
            withGrowing(probeTop.unionByName(sealedScored(rest)))
        }
    }.getOrElse(score(coll.read(spark, partitionNames)))
    Knn.limitPerQid(keyset(scored), "qid",
      Seq(col("score").asc, col(pk).asc), batchSize).drop("qid", "rank")
  }

  /** SPARSE search iterator (IP, descending) — the [[searchIterator]]
    * contract over SPARSE_INVERTED_INDEX / SPARSE_WAND collections,
    * completing the iterator family (dense L2/COSINE/IP, binary
    * HAMMING, sparse IP): EXACT keyset pagination on (score desc, pk
    * asc). The candidate prune here is structural rather than
    * geometric: every page joins ONLY the query dimensions' persisted
    * posting buckets (directory-pruned `_db` layout), so a deep page
    * costs the query-term postings — never the corpus — and docs
    * sharing no dimension with the query score 0 and are never
    * iterated (the top-k route's semantic; reference behavior per
    * `workload.py`'s sparse search bricks). Scores replay through
    * [[SparseInverted.scoresDeterministic]] so the keyset's equality
    * compare cannot drift an ulp between pages. Sealed ⊎ growing delta
    * postings serve via [[IndexStore.serveSparse]], NO rebuild.
    * Unindexed collections page with exact scored scans restricted to
    * overlapping docs so both routes iterate the same set.
    *
    * `filterExpr` accepts the SAME expressions on both routes: the
    * indexed route first tries compiling it against the postings frame
    * (pk/_part predicates — zero extra jobs); an expression over doc
    * columns the postings don't carry falls back to one filtered doc
    * scan whose pks semi-join the postings BELOW the aggregate.
    * `outputFields` join back on pk AFTER the page cut (batchSize
    * rows). `searchParams`: an explicit metric_type must be IP
    * (anything else rejects at the call); radius / range_filter bound
    * the iteration to the similarity band radius < s <= range_filter.
    */
  def searchIteratorSparse(
      spark: SparkSession,
      coll: Collection,
      vecField: String,
      query: Map[Int, Double],
      batchSize: Int,
      after: Option[(Double, Any)] = None,
      filterExpr: String = "",
      searchParams: Map[String, String] = Map.empty,
      outputFields: Seq[String] = Seq.empty,
      partitionNames: Seq[String] = Seq.empty): DataFrame = {
    val d = coll.definition
    val pk = d.primaryField.name
    searchParams.get("metric_type").foreach(m => require(
      m.toUpperCase == "IP", s"sparse vectors support IP, not $m"))
    val scored = sparseFamily(d, vecField).map { s =>
      val (serve, postings) = sparsePostings(spark, coll, vecField, s,
        filterExpr, partitionNames)
      SparseInverted.scoresDeterministic(postings, query, pk,
        serve.build.numBuckets, None)
    }.getOrElse {
      val data = coll.read(spark, partitionNames)
      val pred = filterOn(filterExpr, data)
      val qv = map(query.toSeq.sortBy(_._1).flatMap {
        case (i, v) => Seq(lit(i), lit(v)) }: _*)
      val dimsArr = array(query.keys.toSeq.sorted.map(lit): _*)
      pred.foldLeft(data.filter(col(vecField).isNotNull))(_ filter _)
        .filter(arrays_overlap(map_keys(col(vecField)), dimsArr))
        .select(col(pk), graft.Functions.sparseIp(col(vecField), qv)
          .as("score"))
    }
    // Banded iteration (radius / range_filter; sparse IP is
    // similarity-like: radius < s <= range_filter).
    val (spRadius, spRangeFilter) = bandParams(searchParams, simLike = true)
    val banded = (spRadius.map(r => col("score") > lit(r)).toSeq ++
      spRangeFilter.map(f => col("score") <= lit(f)).toSeq)
      .foldLeft(scored)(_ filter _)
    val kept = after match {
      case None => banded
      case Some((s0, p0)) =>
        banded.filter(col("score") < lit(s0) ||
          (col("score") === lit(s0) && col(pk) > lit(p0)))
    }
    val page = kept.orderBy(col("score").desc, col(pk).asc)
      .limit(batchSize)
    if (outputFields.isEmpty) page
    else {
      val extra = outputFields.filterNot(_ == pk).distinct
      val docs = coll.read(spark, partitionNames)
        .select((pk +: extra).map(col): _*)
      // page is one client batch — broadcast it against the doc scan.
      docs.join(broadcast(page), Seq(pk))
        .select((col(pk) +: extra.map(col)) :+ col("score"): _*)
        .orderBy(col("score").desc, col(pk).asc)
    }
  }

  /** The single client-facing `search_iterator` entry point (pymilvus
    * exposes ONE method regardless of vector family): dispatches on
    * the vector field's STORAGE type — map<int,double> to the sparse
    * posting route (query must be a `Map[Int, Double]`), binary to the
    * Hamming route (`Array[Byte]`), dense arrays to the L2/COSINE/IP
    * route (`Seq[Float]`) — exactly the type-directed routing
    * [[graft.Functions.metricFor]] does for one-shot searches. A
    * query value whose type does not match the field's family fails
    * loudly here instead of as a deep Catalyst cast error.
    */
  def searchIteratorAny(
      spark: SparkSession,
      coll: Collection,
      vecField: String,
      query: Any,
      batchSize: Int,
      after: Option[(Double, Any)] = None,
      filterExpr: String = "",
      searchParams: Map[String, String] = Map.empty,
      outputFields: Seq[String] = Seq.empty,
      partitionNames: Seq[String] = Seq.empty): DataFrame = {
    import org.apache.spark.sql.types.{BinaryType, MapType}
    val fd = coll.definition.fields.find(_.name == vecField)
      .getOrElse(throw new IllegalArgumentException(
        s"no such vector field $vecField"))
    val dt = fd.dataType
    // Erasure leaves Map[_,_]/Seq[_] element types unchecked at the
    // pattern match — verify the first element so a Map[String, _] or
    // Seq[Double] fails HERE with the field named, not as a
    // ClassCastException inside the scoring frame. Empty queries are
    // rejected outright (headOption.forall is vacuously true on an
    // empty query, which would otherwise slip through and score every
    // L2 distance as 0 via zip truncation), and a dense query must
    // match the field's declared dim — pymilvus rejects dim
    // mismatches at call time, and a short query would silently score
    // a truncated prefix.
    (dt, query) match {
      case (_: MapType, q: Map[_, _])
          if q.nonEmpty && q.forall { case (k, v) =>
            k.isInstanceOf[Int] && v.isInstanceOf[Double] } =>
        searchIteratorSparse(spark, coll, vecField,
          q.asInstanceOf[Map[Int, Double]], batchSize, after, filterExpr,
          searchParams, outputFields, partitionNames)
      case (BinaryType, q: Array[Byte]) =>
        require(q.nonEmpty, s"empty binary query for $vecField")
        searchIteratorBinary(spark, coll, vecField, q, batchSize, after,
          filterExpr, searchParams, outputFields, partitionNames)
      case (_: org.apache.spark.sql.types.ArrayType, q: Seq[_])
          if q.nonEmpty && q.forall(_.isInstanceOf[Float]) =>
        fd.dim.foreach(d => require(q.length == d,
          s"query dim ${q.length} does not match $vecField's declared " +
            s"dim $d"))
        searchIterator(spark, coll, vecField,
          q.asInstanceOf[Seq[Float]], batchSize, after, filterExpr,
          searchParams, outputFields, partitionNames)
      case _ => throw new IllegalArgumentException(
        s"query ${query.getClass.getSimpleName} does not match " +
          s"$vecField's storage type $dt (sparse: non-empty " +
          "Map[Int, Double], binary: non-empty Array[Byte], dense: " +
          "Seq[Float] of the declared dim)")
    }
  }
}
