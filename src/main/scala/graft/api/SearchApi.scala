package graft.api

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.operators.{Documents, IvfIndex, Knn, VearchFilters}
import graft.schema.{FieldKind, Space}
import IndexLifecycle.Kind

/** Request-level API parity: the vearch REST verbs
  * `POST /document/search` and `POST /document/query` compiled from their
  * request JSON straight to a DataFrame plan (reference parse path:
  * requestToPb internal/router/document/doc_query.go:1402-1584,
  * queryRequestToPb :1254-1400).
  *
  * Covered request surface:
  *  - `vectors`: per-field query vector(s); a flat feature array of
  *    req_num×dim becomes a BATCH of req_num queries (doc_query.go:296-318)
  *  - multi-field vector conditions → docid intersection + WeightedRanker
  *  - `filters` (AND/OR range/term tree) → scalar pre-filter
  *  - `min_score`/`max_score` per vector condition
  *  - `limit` (default 50, doc_query.go:43), `offset` / page_size+page_num
  *  - `fields` projection: default all scalars, `_id` always included,
  *    vectors only when `vector_value:true` (doc_query.go:1416-1459)
  *  - `is_brute_search` accepted (0/1/2 — this FLAT path is always exact)
  *  - normalization of query vectors for fields with format=normalization
  *    (client.go:603-665)
  *  - `document_ids` point lookups preserving request order
  * L2 sorts ascending, IP descending (doc_query.go:1526-1528).
  */
object SearchApi {

  final case class VecCond(
      field: String,
      queries: Seq[Seq[Float]],
      minScore: Option[Double],
      maxScore: Option[Double],
      // per-condition `index_type` override (doc_query.go:277-283: the
      // request's type wins over the space's declared one); "FLAT"
      // forces the exact brute scan for THIS condition
      indexType: Option[String] = None)

  final case class SearchRequest(
      vectors: Seq[VecCond],
      filter: Option[String],     // raw filters JSON subtree
      fields: Option[Seq[String]],
      vectorValue: Boolean,
      limit: Int,
      offset: Int,
      weights: Option[Seq[Double]],
      isBruteSearch: Int,
      sort: Seq[(String, Boolean)], // (field, ascending) — sortorder/parse.go:24-36
      // search-time index params (doc_query.go:1408-1478: request
      // `index_params` overrides the space's at query time, e.g. nprobe)
      indexParams: Map[String, Int] = Map.empty)

  /** Slow-search classification (doc_query.go:218-234): big topN, deep
    * probing, or many filters → isolate in a separate scheduler pool.
    * Returns the pool name to set via
    * sparkContext.setLocalProperty("spark.scheduler.pool", _).
    */
  def classifyPool(limit: Int, nprobe: Int, ncentroids: Int, nFilters: Int): String =
    classify(limit, nprobe, ncentroids, nFilters, slowMs = 1000L)

  /** Space-aware classification: the per-space `slow_search_time`
    * (space.go:156-164, default 1000 ms) scales the big-topN bar — a space
    * that declares a tighter latency budget isolates sooner.
    */
  def classifyPool(space: Space, limit: Int, nprobe: Int, ncentroids: Int,
      nFilters: Int): String =
    classify(limit, nprobe, ncentroids, nFilters, space.config.slowSearchTimeMs)

  private def classify(limit: Int, nprobe: Int, ncentroids: Int,
      nFilters: Int, slowMs: Long): String = {
    val bigTopN = math.max(1L, 500L * slowMs / 1000L)
    if (limit >= bigTopN || (ncentroids > 0 && nprobe >= ncentroids / 10) ||
        nFilters >= 3) "slow"
    else "default"
  }

  private def doubleOf(v: JValue): Option[Double] = v match {
    case JDouble(d) => Some(d)
    case JInt(i)    => Some(i.toDouble)
    case JDecimal(d) => Some(d.toDouble)
    case _ => None
  }

  /** The unservable-shape error for graph families over a space with no
    * long routing-id space — shared by [[legFor]]'s noDocidRoute and the
    * realtime-tail early return so the fail-loud contract is identical
    * with and without a tail.
    */
  private def noDocidMsg(spaceName: String, field: String,
      family: String): String =
    s"space '$spaceName' has no docid mapping: graph index " +
      s"family $family on field '$field' routes by long " +
      "vec_id, but the corpus has neither an integral `_id` nor " +
      "a `_docid` sidecar. Ingest through the catalog path " +
      "(Ingest.assignDocids mints `_docid` for string-PK " +
      "spaces), declare a scan family instead, or force the " +
      "exact scan with index_type=FLAT / is_brute_search=1"

  /** Integral wire slot (the reference's SearchDocumentRequest int32
    * fields, search_doc.go:71-92): PRESENT but non-integer JSON is the
    * reference's unmarshal PARAM_ERROR — never a silent default. The
    * score-filter bug's siblings died here (r20).
    */
  private def intField(j: JValue, name: String): Option[Int] =
    (j \ name) match {
      case JNothing | JNull => None
      // BigInt.toInt WRAPS silently — out-of-int32 is the reference's
      // "out of range" unmarshal error, not a truncated value
      case JInt(n) if n.isValidInt => Some(n.toInt)
      case other => throw new IllegalArgumentException(
        s"unmarshal err: [$name] must be an int32, got " +
          s"[${JsonMethods.compact(JsonMethods.render(other))}]")
    }

  def parseSearch(json: String, space: Space): SearchRequest = {
    val j = JsonMethods.parse(json)
    val dims: Map[String, Int] = space.vectorFields
      .map(f => f.name -> f.vector.get.dimension).toMap
    val vecs = (j \ "vectors") match {
      case JArray(vs) => vs.map { v =>
        val field = (v \ "field") match {
          case JString(s) => s
          case _ => throw new IllegalArgumentException("vector condition needs field")
        }
        val dim = dims.getOrElse(field,
          throw new IllegalArgumentException(s"$field is not a vector field"))
        val flat = (v \ "feature") match {
          case JArray(xs) => xs.map {
            case JDouble(d) => d.toFloat
            case JInt(i)    => i.toFloat
            case JDecimal(d) => d.toFloat
            case other => throw new IllegalArgumentException(s"bad feature value $other")
          }
          case _ => throw new IllegalArgumentException("vector condition needs feature")
        }
        // req_num queries ride in one flat array (doc_query.go:296-318)
        if (flat.isEmpty || flat.size % dim != 0)
          throw new IllegalArgumentException(
            s"feature length ${flat.size} not a multiple of dimension $dim")
        // `symbol`+`value` is the score filter's other wire form
        // (doc_query.go:72-73): ">"/">=" set min_score, "<"/"<=" set
        // max_score (applied :1220-1232, overriding an explicit
        // min_score/max_score on that side); any other symbol with a
        // value is the reference's parse error (:1240). A `value`
        // without a symbol falls into the same error (TrimSpace("") is
        // not a known symbol).
        var minS = doubleOf(v \ "min_score")
        var maxS = doubleOf(v \ "max_score")
        // a PRESENT but non-numeric `value` is the reference's JSON
        // unmarshal error (doc_query.go:72 — float64 field): failing
        // loud here keeps a client typo from silently running ungated
        (v \ "value") match {
          case JNothing | JNull => ()
          case numeric if doubleOf(numeric).isDefined => ()
          case other => throw new IllegalArgumentException(
            s"score filter value must be numeric, got [$other]")
        }
        doubleOf(v \ "value").foreach { vv =>
          ((v \ "symbol") match {
            case JString(s) => s.trim; case _ => ""
          }) match {
            case ">" | ">=" => minS = Some(vv)
            case "<" | "<=" => maxS = Some(vv)
            case other => throw new IllegalArgumentException(
              s"symbol value unknow:[$other]")
          }
        }
        // per-condition index_type (doc_query.go:277-283): empty falls
        // back to the declared type; "FLAT" is the per-condition brute
        // override (the decode switch :296-301 treats it as a plain
        // float request); anything else must name the field's declared
        // index — this engine has no per-field side indexes beyond the
        // declaration, so an unservable type fails loud, not silently
        val idxType = (v \ "index_type") match {
          case JString(s) if s.trim.nonEmpty => Some(s.trim)
          case _ => None
        }
        idxType.foreach { t =>
          val declared = space.vectorFields.find(_.name == field)
            .flatMap(_.vector).map(_.indexType)
          // aliases that serve from the identical layout are accepted
          // both ways (GPU_* execute on CUDA in the reference, CPU
          // layout here; SSG shares the Vamana generation) — rejecting
          // e.g. index_type IVFFLAT against a declared GPU_IVFFLAT
          // would fail a request the engine can serve exactly
          def canon(x: String) = x match {
            case "GPU_IVFFLAT" => "IVFFLAT"
            case "GPU_IVFPQ" | "IVFPQ_RELAYOUT" => "IVFPQ"
            case "SSG" => "DISKANN_STATIC"
            case other => other
          }
          require(t == "FLAT" || declared.map(canon).contains(canon(t)),
            s"index_type [$t] does not match field [$field] declared " +
              s"index type [${declared.getOrElse("")}]")
        }
        // per-condition `format` is VALIDATE-ONLY in the reference
        // (doc_query.go:321-327, skipped for BINARYIVF): the known
        // names pass through — normalization itself rides the SPACE
        // declaration (client.go:603-665) — and an unknown name is the
        // reference's parse error
        val effType = idxType.orElse(space.vectorFields.find(_.name == field)
          .flatMap(_.vector).map(_.indexType)).getOrElse("")
        (v \ "format") match {
          case JString(f) if f.nonEmpty && effType != "BINARYIVF" &&
              !Set("normalization", "normal", "no").contains(f) =>
            throw new IllegalArgumentException(
              s"unknow vector process format:[$f]")
          case _ => ()
        }
        VecCond(field, flat.grouped(dim).toSeq, minS, maxS, idxType)
      }
      case _ => Seq.empty
    }
    val filter = (j \ "filters") match {
      case JNothing => None
      case f => Some(JsonMethods.compact(JsonMethods.render(f)))
    }
    val fields = (j \ "fields") match {
      case JArray(fs) => Some(fs.collect { case JString(s) => s })
      case _ => None
    }
    val vectorValue = (j \ "vector_value") match {
      case JBool(b) => b; case _ => false
    }
    // limit 0 = absent = the reference's DefaultSize 50
    // (doc_query.go:1412-1415); a negative topN has no defined serving
    // order — fail loud, not a Spark limit() error three stages later
    val limit = intField(j, "limit").filter(_ != 0).getOrElse(50)
    if (limit < 0) throw new IllegalArgumentException(
      s"limit should be a positive integer, got [$limit]")
    // page_size/page_num slicing (client.go:888-899) or plain offset;
    // the product is computed in Long — Int math would wrap
    // (65536 * 65537 → page 1 served silently)
    val offset = (intField(j, "page_size"), intField(j, "page_num")) match {
      case (Some(ps), Some(pn)) if pn > 0 =>
        val off = ps.toLong * (pn - 1)
        if (off > Int.MaxValue) throw new IllegalArgumentException(
          s"page_size*page_num out of range: $ps * $pn")
        off.toInt
      case _ => intField(j, "offset").getOrElse(0)
    }
    if (offset < 0) throw new IllegalArgumentException(
      s"offset should not be negative, got [$offset]")
    // only WeightedRanker exists (doc_query.go:44,208-209): a ranker
    // object naming any other type is the reference's parse error
    (j \ "ranker" \ "type") match {
      case JString(t) if t != "WeightedRanker" =>
        throw new IllegalArgumentException(
          s"unsupport ranker type: $t, now only support WeightedRanker")
      case _ => ()
    }
    val weights = (j \ "ranker" \ "params" \ "weights") match {
      case JArray(ws) => Some(ws.flatMap(doubleOf))
      case _ => None
    }
    val brute = intField(j, "is_brute_search").getOrElse(2)
    // sort spec (internal/ps/engine/sortorder/parse.go:24-36): an array of
    // bare field names (ascending) or {field: {order: asc|desc}} objects;
    // "_score" is addressable like a field
    val sort: Seq[(String, Boolean)] = (j \ "sort") match {
      case JArray(items) => items.flatMap {
        case JString(f) => Seq((f, true))
        case JObject(fs) => fs.map { case (name, spec) =>
          val asc = (spec \ "order") match {
            case JString(o) => !o.equalsIgnoreCase("desc")
            case _ => true
          }
          (name, asc)
        }
        case _ => Seq.empty
      }
      case _ => Seq.empty
    }
    // index_params unmarshals into a typed struct in the reference
    // (entity.IndexParams, space.go:76-85 + the engine-side keys): a
    // known INT key with a non-integer value is the unmarshal
    // PARAM_ERROR (doc_query.go:1475-1478), `metric_type` must name a
    // supported metric (space.go:334-336 — validated here, the DECLARED
    // metric still governs scoring), and unknown keys are ignored like
    // Go's json.Unmarshal ignores unknown fields
    val intParamKeys = Set("nprobe", "efSearch", "efConstruction",
      "nlinks", "ncentroids", "nsubvector", "training_threshold",
      "recall_num", "l_search", "L", "beam_width", "qb", "parallel_on_queries")
    val reqIndexParams: Map[String, Int] = (j \ "index_params") match {
      case JObject(kvs) =>
        kvs.foreach {
          // JSON null = "no value" in Go's unmarshal — accepted, ignored
          case (_, JNull) => ()
          case (k, v) if intParamKeys.contains(k) &&
              !v.isInstanceOf[JInt] =>
            throw new IllegalArgumentException(
              s"unmarshal err: index_params [$k] must be an integer, got " +
                s"[${JsonMethods.compact(JsonMethods.render(v))}]")
          case (k, JInt(v)) if intParamKeys.contains(k) && !v.isValidInt =>
            throw new IllegalArgumentException(
              s"unmarshal err: index_params [$k] out of int32 range: $v")
          case ("metric_type", JString(m))
              if m != "L2" && m != "InnerProduct" =>
            throw new IllegalArgumentException(
              s"index params metric_type not support: $m, should be L2 " +
                "or InnerProduct")
          case ("metric_type", v) if !v.isInstanceOf[JString] =>
            throw new IllegalArgumentException(
              "unmarshal err: index_params [metric_type] must be a string, " +
                s"got [${JsonMethods.compact(JsonMethods.render(v))}]")
          case _ => ()
        }
        kvs.collect { case (k, JInt(v)) if v.isValidInt => k -> v.toInt }.toMap
      case JNothing | JNull => Map.empty
      case other => throw new IllegalArgumentException(
        s"unmarshal err: index_params must be an object, got " +
          s"[${JsonMethods.compact(JsonMethods.render(other))}]")
    }
    SearchRequest(vecs, filter, fields, vectorValue, limit, offset, weights,
      brute, sort, reqIndexParams)
  }

  private def sortCols(sort: Seq[(String, Boolean)]): Seq[Column] =
    sort.map { case (f, asc) => if (asc) col(f).asc else col(f).desc }

  /** A sort spec's row order: by query block (`qid`), the spec's keys,
    * then `_id`.
    */
  private def specOrder(sort: Seq[(String, Boolean)], qid: Option[Column]): Seq[Column] =
    qid.map(_.asc).toSeq ++ sortCols(sort) :+ col("_id").asc

  /** Re-order a (projected) search response by the sort spec, failing
    * LOUD when a sort field is not among the result's columns — a
    * multi-field result carries only (_id, _score), and silently ignoring
    * the spec would differ from the single-field surface.
    */
  private def applySort(df: DataFrame, sort: Seq[(String, Boolean)],
      qid: Option[Column] = None, bound: Option[Int] = None): DataFrame = {
    val missing = sort.map(_._1).filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"sort field(s) ${missing.mkString(", ")} not in result columns " +
        s"[${df.columns.mkString(", ")}]")
    val sorted = df.orderBy(specOrder(sort, qid): _*)
    bound.fold(sorted)(sorted.limit)
  }

  private def arrayFields(space: Space): Set[String] =
    space.fields.filter(_.kind == FieldKind.StringArrayK).map(_.name).toSet

  private def dateFields(space: Space): Set[String] =
    space.fields.filter(_.kind == FieldKind.DateK).map(_.name).toSet

  private def metricOf(space: Space, field: String): String =
    space.vectorFields.find(_.name == field)
      .flatMap(_.vector).map(_.metric).getOrElse("l2")

  private def valueTypeOf(space: Space, field: String): String =
    space.vectorFields.find(_.name == field)
      .flatMap(_.vector).map(_.valueType).getOrElse("float")

  /** The graph-family-servable predicate (round 21, shared contract with
    * [[searchAuto]]'s legFor): Some(effective index type) when this
    * condition would enter a graph arm — HNSW/DISKANN_STATIC/SSG under
    * legFor's value-type guards (binary never routes to a graph; int8
    * only with an ip/l2 metric — those shapes fall to the exact FLAT
    * serve instead). The rid-free fail-loud gates must fire exactly for
    * these shapes, tail or no tail; gating on the index type alone made
    * a binary HNSW field error once a RealtimeTail was attached while
    * serving fine without one.
    */
  private def graphRoute(space: Space, vc: VecCond): Option[String] = {
    val eff = vc.indexType.orElse(space.vectorFields
      .find(_.name == vc.field).flatMap(_.vector).map(_.indexType))
      .getOrElse("")
    val vt = valueTypeOf(space, vc.field)
    val i8Metric = Set("ip", "l2", "l2sq").contains(metricOf(space, vc.field))
    val isGraph = eff == "HNSW" || eff == "DISKANN_STATIC" || eff == "SSG"
    if (isGraph && vt != "binary" && (vt != "int8" || i8Metric)) Some(eff)
    else None
  }

  private def maybeNormalize(space: Space, field: String, q: Seq[Float]): Seq[Float] = {
    val normalized = space.vectorFields.find(_.name == field)
      .flatMap(_.vector).exists(_.normalized)
    if (!normalized) q
    else {
      val n = math.sqrt(q.map(x => x.toDouble * x.toDouble).sum)
      if (n == 0.0) q else q.map(x => (x / n).toFloat)
    }
  }

  /** Projection per the reference rules: requested fields (plus `_id`), or
    * all scalar fields; vector columns only when vector_value.
    */
  private def projection(space: Space, req: SearchRequest, extra: Seq[String]): Seq[String] = {
    val vectorNames = space.vectorFields.map(_.name).toSet
    val base = req.fields match {
      case Some(fs) =>
        val withId = if (fs.contains("_id")) fs else "_id" +: fs
        withId.filterNot(f => vectorNames.contains(f) && !req.vectorValue)
      case None =>
        val scalars = space.fields.filterNot(f => vectorNames.contains(f.name)).map(_.name)
        val all = "_id" +: scalars
        if (req.vectorValue) all ++ space.vectorFields.map(_.name) else all
    }
    base ++ extra
  }

  // ---- FLAT-path value-type dispatch (index_model.h:19), shared by
  // every brute shape — the brute twins of searchAuto's legFor dispatch:
  // int8 conditions quantize each query with the ingest quantizer and
  // score with the integer kernels; binary conditions sign-binarize and
  // rank by code Hamming (ascending ⇒ direction entry l2); float keeps
  // the metric kernels over the (possibly normalized) request floats.

  /** Ranking direction entry for a condition's field: a binary field
    * ranks by code Hamming, ascending, so it ranks as l2.
    */
  private def rankMetric(space: Space, field: String): String =
    if (valueTypeOf(space, field) == "binary") "l2" else metricOf(space, field)

  /** The request's scalar filter tree as a predicate. */
  private def filterOf(space: Space, req: SearchRequest): Option[Column] =
    req.filter.map(VearchFilters.parse(_, arrayFields(space), dateFields(space)))

  /** Per-field top-k of a multi-field conjunction: it scales with limit
    * like the engine's per-index topn.
    */
  private def perFieldK(req: SearchRequest): Int = math.max(req.limit * 10, 200)

  /** `POST /document/search` → DataFrame: the exact FLAT path. Every
    * request is a batch of its req_num queries (a single query is qid 0),
    * and every condition scores through [[Knn.searchBatchLocal]] in its
    * field's value domain, with its score gate in-scan
    * (gamma_common_data.h:94-96). The query count known here
    * picks the per-query merge ([[Knn.topKPerQuery]]): one
    * TakeOrderedAndProject for one query, the TopKAgg heap per qid for
    * more. Blocks come in REQUEST order, rows by score then `_id` within
    * each block (the routed finisher's contract); a sort spec re-orders
    * rows within each block. Output carries `_score`, and `_qid` for
    * req_num > 1.
    */
  def search(corpus: DataFrame, space: Space, requestJson: String): DataFrame = {
    val req = parseSearch(requestJson, space)
    require(req.vectors.nonEmpty, "search request needs at least one vector condition")
    val nq = req.vectors.head.queries.size
    require(req.vectors.forall(_.queries.size == nq),
      "all vector conditions must carry the same req_num")
    val filtered = filterOf(space, req).map(corpus.filter).getOrElse(corpus)
    // one condition's per-query top-k in its field's value domain
    // (index_model.h:19): int8 quantizes each query with the ingest
    // quantizer and scores with the integer kernels; binary
    // sign-binarizes and ranks by code Hamming (ascending, so it ranks as
    // l2); float keeps the metric kernels over the (normalized) floats
    def topK(vc: VecCond, item: Column, k: Int, offset: Int): DataFrame = {
      def run[Q: scala.reflect.runtime.universe.TypeTag](qs: Seq[Q],
          scoreFn: Option[(Column, Column) => Column]): DataFrame =
        Knn.searchBatchLocal(filtered, col(vc.field), item,
          qs.zipWithIndex.map { case (q, i) => (i.toLong, q) }, k,
          rankMetric(space, vc.field), minScore = vc.minScore,
          maxScore = vc.maxScore, offset = offset, scoreFn = scoreFn)
      def arr(q: Seq[Float]) =
        new org.apache.spark.sql.catalyst.util.GenericArrayData(q.toArray)
      valueTypeOf(space, vc.field) match {
        case "int8" =>
          val m = metricOf(space, vc.field)
          run(vc.queries.map(q => graft.functions.VecKernels.quantizeI8(arr(q))),
            Some((v: Column, qc: Column) => Knn.scoreInt8(m, v, qc)))
        case "binary" =>
          run(vc.queries.map(q => graft.functions.VecKernels.signBits(arr(q))),
            Some((v: Column, qc: Column) => graft.Graft.F.hamming(v, qc).cast("double")))
        case _ => run(vc.queries.map(maybeNormalize(space, vc.field, _)), None)
      }
    }
    // (hits, ranking metric, response columns, response column of a hit)
    val (hits, metric, cols, colOf) =
      if (req.vectors.size == 1) {
        // the item leads with `_id`: exact-score ties at the k boundary
        // break by `_id`
        val item = struct((col("_id") +:
          corpus.columns.filter(_ != "_id").map(col)).toIndexedSeq: _*)
        (topK(req.vectors.head, item, req.limit, req.offset),
          rankMetric(space, req.vectors.head.field),
          projection(space, req, Seq("_qid", "_score")),
          (c: String) => if (c == "_qid" || c == "_score") col(c) else col("_item")(c).as(c))
      } else {
        // multi-field conjunctive: per-field top-k, (qid, id)
        // intersection, WeightedRanker; each field scores with its OWN
        // metric_type and gate (vector_manager.cc:1024-1087)
        val nf = req.vectors.size
        val w = req.weights.getOrElse(Seq.fill(nf)(1.0 / nf))
        require(w.size == nf, "weights arity must match vector conditions")
        val joined = req.vectors.zipWithIndex.map { case (vc, i) =>
          topK(vc, struct(col("_id")), perFieldK(req), 0)
            .select(col("_qid"), col("_item._id").as("_id"), col("_score").as(s"_s$i"))
        }.reduceLeft((a, b) => a.join(b, Seq("_qid", "_id")))
        val combined = (0 until nf).map(i => col(s"_s$i") * lit(w(i))).reduceLeft(_ + _)
        // the lead condition sets the response direction (doc_query.go:1526-1528)
        val m = rankMetric(space, req.vectors.head.field)
        (Knn.topKPerQuery(joined.withColumn("_score", combined), nq, req.limit,
          Knn.ascending(m), "_id", offset = req.offset), m, Seq("_qid", "_id", "_score"),
          (c: String) => col(c))
      }
    val qid = if (nq > 1) Some(col("_qid")) else None
    val projected = hits.select(cols.filter(c => c != "_qid" || qid.isDefined).map(colOf): _*)
    // one query's merge (TakeOrderedAndProject) already ranks by score
    // then `_id`; a batch's blocks are put in request order
    val out = qid.fold(projected)(q => projected.orderBy(q.asc,
      if (Knn.ascending(metric)) col("_score").asc else col("_score").desc,
      col("_id").asc))
    if (req.sort.nonEmpty) applySort(out, req.sort, qid) else out
  }

  /** Cap on the broadcast allow-set a filtered HNSW walk may collect to
    * the driver. Above it the planner falls back to filter-first brute
    * force — the reference's broad-filter switch (engine.cc:355-373): a
    * non-selective filter at fleet scale would otherwise collect billions
    * of ids driver-side. ~1M longs ≈ 8 MB broadcast.
    */
  @volatile var maxFilterAllowIds: Int = 1 << 20

  /** The columns of an opened snapshot's resident projection
    * ([[graft.sources.IndexStore.projection]]): the routing id, `_id` and
    * every SCALAR-declared non-vector field the frame holds. The
    * allow-set ([[residentAllow]]) and the routed payload
    * ([[searchAuto]]'s finisher) read this one projection.
    */
  private def residentCols(frame: DataFrame, space: Space, rid: String): Seq[String] =
    (rid +: "_id" +: scalarFields(space)).distinct.filter(frame.columns.contains)

  private def scalarFields(space: Space): Seq[String] =
    space.fields.filter(f => f.indexed && f.kind != FieldKind.VectorK).map(_.name)

  /** The allow-set of scalar predicate `p` over an opened snapshot, from
    * the snapshot's resident projection ([[residentCols]]; vearch filters
    * through in-memory per-field scalar indexes before the ANN walk,
    * engine.cc): collected once on the first request that needs it, kept
    * on the open-cache entry that holds `frame` (any rewrite of a data
    * file drops it), and only for a snapshot whose parquet footers count
    * at most [[maxFilterAllowIds]] rows, decided before anything is
    * collected. Catalyst's analyzer resolves `p` over the copy and the
    * bound (interpreted) predicate runs over its rows on the driver, so
    * every comparison rule (NaN, -0.0, null, coercion, arrays_overlap) is
    * Catalyst's, and no Spark job runs.
    *
    * Exactness: the copy holds every row of the files `frame` reads, and
    * the same predicate runs over it, so the set equals
    * `frame.filter(p)`'s. None = not applicable and the caller probes the
    * frame: `frame` is no current open-cache snapshot, a field `p`
    * references is not SCALAR-declared, the routing id is not an
    * integral column, or the snapshot is over the cap.
    */
  private[graft] def residentAllow(frame: DataFrame, space: Space,
      rid: String, p: Column): Option[Array[Long]] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BindReferences
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val refs = org.apache.spark.sql.graft.Bridge.columnNames(p)
    val scalars = scalarFields(space)
    if (!frame.columns.contains(rid) || !refs.forall(r => scalars.contains(r) &&
        frame.columns.contains(r))) None
    else graft.sources.IndexStore.projection(frame,
        residentCols(frame, space, rid), maxFilterAllowIds).flatMap { proj =>
      // analysis resolves and coerces `p` over the copy as it would over
      // `frame`; the bound predicate then runs over the copy's rows
      proj.frame.filter(p).queryExecution.analyzed match {
        case Filter(cond, rel: LocalRelation) =>
          val at = rel.output.indexWhere(_.name == rid)
          val id = rel.output(at).dataType match {
            case IntegerType => Some((r: InternalRow) => r.getInt(at).toLong)
            case LongType    => Some((r: InternalRow) => r.getLong(at))
            case _           => None
          }
          id.map { id =>
            // evaluated as InterpretedPredicate does (a null reads false),
            // without its subexpression cache: that cache is a locked map
            // cleared and refilled for every row
            val keep = BindReferences.bindReference(cond, rel.output)
            rel.data.iterator.filter(keep.eval(_).asInstanceOf[Boolean]).map(id).toArray
          }
        case _ => None
      }
    }
  }

  /** The rows of local relation `rel` ordered by sort keys `by`, compared
    * with Catalyst's own ordering: the analyzer resolves `by` over `rel`
    * and an [[org.apache.spark.sql.catalyst.expressions.InterpretedOrdering]]
    * over the bound sort orders sorts the rows on the driver, so NaN,
    * -0.0, nulls and the UTF-8 byte order of strings compare as in
    * Spark's own sort, and no Spark job runs.
    */
  private def sortedLocally(spark: org.apache.spark.sql.SparkSession,
      rel: org.apache.spark.sql.catalyst.plans.logical.LocalRelation,
      by: Seq[Column]): Seq[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.catalyst.expressions.{BindReferences, InterpretedOrdering}
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    org.apache.spark.sql.graft.Bridge.ofRows(spark, rel).orderBy(by: _*)
        .queryExecution.analyzed match {
      case Sort(order, _, child, _) if child.output == rel.output =>
        val rows = rel.data.toArray
        java.util.Arrays.sort(rows,
          new InterpretedOrdering(order.map(BindReferences.bindReference(_, rel.output))))
        rows.toSeq
      case other => throw new IllegalStateException(s"unexpected local sort plan: $other")
    }
  }

  /** Driver-side twin of the catalog layout's `_bucket = pmod(hash(_id),
    * nb)` (SpaceCatalog.withBucket) for ANY PK type (the canonical
    * `_id` is a string): Spark's `hash()` is Murmur3 with seed 42 over
    * the column's NATIVE type, so an IntegerType PK must hash as Int.
    * `Literal.create` runs the same Catalyst type conversion the column
    * hash sees, so string ids hash as UTF8String exactly like the layout
    * writer's `hash(col("_id"))`.
    */
  private def bucketOfAny(id: Any, nb: Int,
      idT: org.apache.spark.sql.types.DataType): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
    val h = new Murmur3Hash(Seq(Literal.create(id, idT)))
      .eval(null).asInstanceOf[Int]
    ((h % nb) + nb) % nb
  }

  /** Point fetch of `ids` (non-empty, in `_id`'s own type `idT`) from a
    * corpus carrying the catalog's `_bucket` column: `_bucket IN` the
    * ids' buckets (partition pruning) plus `_id IN ids` (row-group
    * skipping) — the reference's O(k) docid point reads
    * (engine.cc:869-911), never a full corpus read. Zero false
    * negatives: every row of an id lives in its hash bucket (layout
    * invariant `_bucket = pmod(hash(_id), nb)`).
    */
  private def bucketFetch(bucketed: DataFrame, nb: Int, ids: Seq[Any],
      idT: org.apache.spark.sql.types.DataType): DataFrame = {
    val bks = ids.map(bucketOfAny(_, nb, idT)).distinct
    bucketed.filter(col("_bucket").isin(bks: _*) && col("_id").isin(ids: _*))
      .drop("_bucket")
  }

  /** Score-gated GRAPH serving (min_score/max_score per vector
    * condition, doc_query.go:67-78), the driver-bounded depth loop:
    * hitsAt(d) returns per-qid top-d (_qid, vec_id, _score) - req_num
    * queries share the condition's gate (doc_query.go:296-318 flattens
    * them into one request) and a single query is qid 0. Each probe runs
    * ONE action aggregating per-qid (candidate count, gated top-k)
    * through the bounded TopKAgg heap, so the driver receives <= req_num
    * rows of one count plus <= k (vec_id, _score) pairs per probe - never
    * a depth-or-corpus-sized collect, whatever the gate's selectivity.
    * Exactness: k gated survivors inside the returned top-depth dominate
    * every candidate beyond it; a candidate count SHORTER than depth
    * proves every admissible candidate was already seen - either way the
    * gated top-k equals the FLAT path's gate-before-select. The loop
    * continues until EVERY query has k gated survivors or is exhausted;
    * queries already satisfied at a lower depth stay exact at higher
    * depths (more candidates never change the gated top-k once it
    * dominates). Ungated requests bypass the loop entirely (hitsAt(k),
    * zero extra actions).
    *
    * The graph walks thread the band into their RESULT heaps
    * ([[graft.operators.HnswIndex.searchSegment]]'s band contract), so
    * hitsAt(d) returns the GATED ranking's own prefix and the first
    * probe converges (gated.size >= k, or n < depth at exhaustion) - one
    * walk instead of re-paying segment IO per doubling. The doubling
    * loop remains as the exactness backstop for any hitsAt that does not
    * gate in-walk. Scan-shaped families never come here: they gate
    * IN-SCAN (gamma_common_data.h:94-96) inside their operators. The
    * multi-field conjunctive legs pass EACH CONDITION's own gate (the
    * reference gates per condition before the docid intersection).
    */
  private[graft] def gateLoop(spark: org.apache.spark.sql.SparkSession,
      k: Int, metric: String, minScore: Option[Double],
      maxScore: Option[Double])(hitsAt: Int => DataFrame): DataFrame = {
    if (minScore.isEmpty && maxScore.isEmpty) return hitsAt(k)
    import spark.implicits._
    val lo = minScore.getOrElse(Double.NegativeInfinity)
    val hi = maxScore.getOrElse(Double.PositiveInfinity)
    val asc = Knn.ascending(metric)
    var depth = math.max(4 * k, 64)
    var result: Option[Seq[(Long, Long, Double)]] = None
    while (result.isEmpty) {
      // TopKAgg skips null scores, so the `when` drops out-of-gate
      // candidates before the k-bounded heap
      val rows = hitsAt(depth)
        .select(col("_qid").cast("long").as("_qid"),
          col("vec_id").cast("long").as("vec_id"), col("_score"))
        .groupBy(col("_qid"))
        .agg(count(lit(1)).as("_n"),
          graft.Graft.F.topK(
            when(col("_score").between(lo, hi), col("_score")),
            col("vec_id"), k, asc).as("_tk"))
        .collect()
      val done = rows.forall { r =>
        r.getSeq[org.apache.spark.sql.Row](2).size >= k || r.getLong(1) < depth
      } || depth >= Int.MaxValue / 2
      if (done)
        result = Some(rows.toSeq.flatMap { r =>
          val qid = r.getLong(0)
          r.getSeq[org.apache.spark.sql.Row](2)
            .map(e => (qid, e.getLong(1), e.getDouble(0)))
        })
      else depth *= 2
    }
    result.get.toDF("_qid", "vec_id", "_score")
  }

  /** Index-routed search — the reference's planner switch
    * (is_brute_search 0/2 serve from the declared index when one is READY,
    * 1 forces the brute scan; engine.cc:280-308). Every condition routes
    * by its field's declared `index.type` (or the request's per-condition
    * override) through [[legFor]]: one query or a req_num batch, single
    * field or multi-field conjunction, scalar filters and score gates
    * included. Index params resolve request `index_params` → space params
    * → the family default (e.g. IVFFLAT `nprobe` 80, capped at
    * ncentroids; gamma_index_ivfflat.cc:52-54). A condition without a
    * READY generation or without a route for its family × value type, a
    * broad scalar filter on a graph family, and is_brute_search=1 fall
    * back to the exact FLAT path of [[search]] — the same degrade the
    * reference performs below training_threshold.
    *
    * `tail` is the space's realtime buffer (`enable_realtime` — the
    * reference merges the memory buffer into EVERY index type's search,
    * vector_manager.cc:941-1012,1096-1176): when present and non-empty,
    * every routed leg serves base-index ∪ brute-tail through the per-qid
    * [[graft.streaming.RealtimeTail.mergeTail]] — payload joins hit the
    * LIVE view (base ∪ tail), and any shape without a tail-aware route
    * (no routing id) falls back to the exact FLAT path over the live
    * view — fresh writes are never invisible, whatever the route.
    *
    * EXECUTION CONTRACT (r18): a routed request runs its index legs as
    * ONE bounded action at construction — the ≤ req_num·(k+offset) hits
    * materialize so their ids can prune the payload scan (id-IN +
    * `_bucket IN`, the reference's O(k) docid point reads) — and the
    * returned frame is the pruned payload fetch over those local hits.
    * A search request is meant to execute (the reference's handler does
    * exactly this), so construction-time work IS request work. Two shapes
    * have no payload scan to prune and stay fully lazy plans: the FLAT
    * fallback, and a routed response of `_id` and `_score` alone on a
    * space routed by its integral `_id` (every such conjunction, or
    * `fields: ["_id"]`), which is the ranked hits themselves.
    */
  def searchAuto(corpus0: DataFrame, space: Space, requestJson: String,
      lifecycle: IndexLifecycle,
      tail: Option[graft.streaming.RealtimeTail] = None): DataFrame = {
    val req = parseSearch(requestJson, space)
    import org.apache.spark.sql.types.{IntegerType, LongType}
    // a corpus still carrying the catalog's physical `_bucket` partition
    // column (the id-hash layout, `_bucket = pmod(hash(_id), nb)`) keeps
    // it INTERNAL — dropped before any serving logic sees the frame —
    // but the bucketed original stays available so the payload fetch in
    // [[fetchPayload]] can PARTITION-PRUNE to the hit ids' buckets, the
    // Spark shape of the reference's O(k) docid point reads
    // (engine.cc:902-911). `_graft_buckets` (the layout's bucket count)
    // rides the space dir; without it the id-IN pushdown still prunes
    // row groups on any plain-parquet space.
    val bucketedCorpus: Option[DataFrame] =
      if (corpus0.columns.contains("_bucket")) Some(corpus0) else None
    val corpus = bucketedCorpus.map(_.drop("_bucket")).getOrElse(corpus0)
    lazy val bucketNb: Option[Int] =
      bucketedCorpus.flatMap(_ => graft.schema.SpaceCatalog.bucketsOf(lifecycle.path))
    val idIntegral = corpus.schema.fields.find(_.name == "_id").exists(f =>
      f.dataType == LongType || f.dataType == IntegerType)
    // ROUTING id — the long column index hits, delete-ledger entries and
    // tail merges reference: the integral PK itself, or the `_docid`
    // sidecar the ingest assigns to string-PK spaces
    // ([[Ingest.assignDocids]] — the reference maps every string `_id`
    // to a dense int docid at ingest so indexes never see strings,
    // engine.cc:730-745, and auto-generates string UUIDs when `_id` is
    // absent, client.go:1197-1221). A string-PK space WITHOUT the
    // sidecar still serves the SCAN families (their layouts carry the
    // PK, see [[legFor]]'s asVecId contract); graph families need the
    // long id space and FAIL LOUD (legFor's noDocidRoute — the exact
    // FLAT escape stays explicit via index_type=FLAT/is_brute_search),
    // and the realtime tail keeps the documented FLAT fallback below.
    val rid: Option[String] =
      if (idIntegral) Some("_id")
      else corpus.schema.fields.find(_.name == "_docid")
        .filter(_.dataType == LongType).map(_.name)
    val tailOn = tail.exists(_.hasTail)
    // the view a realtime search answers over: base ∪ buffered tail
    // (id-level last-write-wins) — identical to `corpus` when no tail.
    // The tail leg is delete-gated with the FULL ledger so a doc deleted
    // while buffered never resurfaces through a fallback shape (the
    // routed arms gate with their generation's `deletedSince` — this
    // keeps delete visibility consistent across every query shape).
    val live =
      if (tailOn) tail.get.snapshot(corpus.schema, lifecycle.allDeletes())
      else corpus
    // routed tail merges bridge index hit ids (longs) back to the live
    // view; a space with neither an integral `_id` nor a `_docid`
    // sidecar can't ride them — SCAN families serve the live view
    // exactly (the documented tail degradation), but a GRAPH family
    // stays structurally unservable here too: the SAME fail-loud
    // contract as [[legFor]]'s noDocidRoute, tail or no tail — a
    // request must not silently change from error to O(corpus) brute
    // because a RealtimeTail was attached (explicit index_type=FLAT
    // and is_brute_search=1 escapes pass through, as everywhere)
    if (tailOn && rid.isEmpty) {
      if (req.isBruteSearch != 1)
        req.vectors.foreach { vc =>
          // same servability predicate as legFor's noDocidRoute (shared
          // helper): value types that never enter a graph arm must not
          // fail-loud here either — tail and no-tail behavior agree
          graphRoute(space, vc).foreach(eff =>
            throw new IllegalArgumentException(
              noDocidMsg(space.name, vc.field, eff)))
        }
      return search(live, space, requestJson)
    }
    // the routing column's name for the arms below; "_id" when no
    // routing column exists (those arms never bridge — and a space
    // without a routing column cannot have recorded deletes, so the
    // `_id`-keyed deny gates stay no-ops there)
    val ridName = rid.getOrElse("_id")
    // a tail constructed with a different routing column would anti-join
    // base hits against the wrong id space — fail loud, not ghost-quietly
    require(!tailOn || tail.get.routingCol == ridName,
      s"realtime tail routes on '${tail.get.routingCol}' but the space " +
        s"routes on '$ridName' — construct the RealtimeTail with " +
        s"ridCol = Some(\"$ridName\")")
    // routable shapes: single-condition requests (single query or the
    // req_num batch the reference flattens into one index request,
    // doc_query.go:296-318) and multi-field conjunctions route through
    // [[legFor]]; is_brute_search=1 forces the exact FLAT scan
    // (engine.cc:280-308).
    val pred = filterOf(space, req)
    // one finisher for every routed shape: the hits' payload rows
    // ordered by score then `_id`; `offset` slices WITHIN each query's
    // block and the blocks come in REQUEST order. `cols` is the response
    // projection (it always carries `_id` and `_score`); a single-query
    // request drops its `_qid` (qid 0). ONE bounded action collects the
    // <= req_num*(k+offset) hits; hits that are already local rows (the
    // resident walk, the gate loops) are read with no action at all
    // ([[org.apache.spark.sql.graft.Bridge.localRows]]). The payload then
    // comes from the snapshot's resident projection ([[residentPayload]])
    // when it applies, else from the pruned fetch ([[fetchPayload]]).
    def finish(hits: DataFrame, metric: String, nq: Int,
        cols: Seq[String]): DataFrame = {
      val qid = if (nq > 1) Some(col("_qid")) else None
      val rank = Seq(
        if (Knn.ascending(metric)) col("_score").asc else col("_score").desc,
        col("_id").asc)
      val order = qid.map(_.asc).toSeq ++ rank
      val out = cols.filter(c => c != "_qid" || qid.isDefined)
      // a response of `_id` and `_score` alone on a space routed by its
      // integral `_id` needs no payload, so there are no hit ids to
      // prune a fetch with: the response is the hits plan itself, put in
      // response order in one final task (no exchange), and stays lazy
      // like the FLAT path
      if (rid.contains("_id") && cols.forall(Set("_qid", "_id", "_score")) &&
          req.offset == 0 && req.sort.isEmpty)
        return hits.select(col("vec_id").cast(corpus.schema("_id").dataType).as("_id"),
            col("_score").cast("double").as("_score"), col("_qid"))
          .coalesce(1).sortWithinPartitions(order: _*).select(out.map(col): _*)
      // hits carry the routing id as `vec_id`: a LONG for every routed
      // family, the PK itself (native type) on the rid-free scan serve —
      // casting to the routing column's type at collect time keeps the
      // local rows, the id-IN filter and the bucket hash all in the
      // column's own domain (long→int narrows, string stays string)
      val sel = hits.select(col("vec_id").cast(corpus.schema(ridName).dataType).as("vec_id"),
        col("_score").cast("double").as("_score"), col("_qid"))
      val rows = org.apache.spark.sql.graft.Bridge.localRows(sel).getOrElse(sel.collect())
      residentPayload(rows, sel.schema, out, order, specOrder(req.sort, qid)).getOrElse {
        val projected = fetchPayload(rows, sel.schema).select(out.map(col): _*)
        // Every sort is BOUNDED by the hit count n, known on the driver:
        // the routing-id join yields at most one row per hit, so
        // `limit(n)` drops nothing, and Spark plans the sort as one
        // TakeOrderedAndProject - no range-partitioning sample job, map
        // stage or result stage to order <= req_num*(k+offset) rows. The
        // keys (_qid, _score, _id) are a total order, so the rows and
        // their order are the unbounded sort's. The offset slice ranks by
        // score, whatever a sort spec orders by; a batch slices per qid
        // with row_number over its tiny hit rows.
        val n = rows.length
        val sliced = (qid, req.offset) match {
          case (_, 0) => projected
          case (None, off) => projected.orderBy(order: _*).limit(n).offset(off)
          case (Some(q), off) =>
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(q).orderBy(rank: _*)
            projected.withColumn("_rn", row_number().over(w))
              .filter(col("_rn") > off).drop("_rn")
        }
        if (req.sort.nonEmpty) applySort(sliced, req.sort, qid, Some(n))
        else if (qid.isEmpty && req.offset > 0) sliced // already in score order
        else sliced.orderBy(order: _*).limit(n)
      }
    }
    // score-gated GRAPH serving: see [[gateLoop]] on the object — the
    // walks thread the band into their RESULT heaps, so the loop's first
    // probe already returns the gated ranking's prefix and convergence is
    // immediate; the loop stays as the exactness backstop for any hitsAt
    // that does NOT gate in-walk.
    // The resident payload - vearch reads a hit's fields by docid from
    // the partition's own storage (engine.cc:869-911). Without a tail
    // `live` IS the opened snapshot, and its resident projection
    // ([[residentCols]]) holds every row of the files the frame reads, so
    // the inner join of the collected hits to it on the driver (a lookup
    // of the unique routing id; a hit with no row drops out) returns the
    // fetch's join rows, and [[sortedLocally]] orders them with the
    // ordering the fetch's TakeOrderedAndProject uses. The response is a
    // local relation with the fetch's schema: collecting it runs no Spark
    // job. None = the fetch serves: a realtime tail, no integral routing
    // id, a routing id that repeats in the snapshot, a snapshot over
    // [[maxFilterAllowIds]] rows or no open-cache snapshot, or a response
    // column or sort key outside the projection. The request-only checks
    // come first, so a response the projection cannot serve reads no
    // footer and collects no projection.
    def residentPayload(hits: Array[Row], hitSchema: StructType, out: Seq[String],
        order: Seq[Column], sortOrder: Seq[Column]): Option[DataFrame] = {
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
      val fromHits = Set("_score", "_qid")
      val cols = residentCols(corpus0, space, ridName)
      if (tailOn || rid.isEmpty || !out.forall(c => fromHits(c) || cols.contains(c)) ||
          !req.sort.forall(s => out.contains(s._1))) None
      else graft.sources.IndexStore.projection(corpus0, cols, maxFilterAllowIds)
        .flatMap(p => p.rowOf.map(p -> _))
        .map { case (proj, rowOf) =>
          val spark = corpus.sparkSession
          val schema = StructType(out.map(c =>
            if (fromHits(c)) hitSchema(c) else proj.rel.schema(c)))
          val value: Seq[(Row, InternalRow) => Any] = out.map { c =>
            if (fromHits(c)) {
              val at = hitSchema.fieldIndex(c)
              (h: Row, _: InternalRow) => h.get(at)
            } else {
              val (at, dt) = (proj.cols.indexOf(c), schema(c).dataType)
              (_: Row, r: InternalRow) => r.get(at, dt)
            }
          }
          val joined = hits.toSeq.flatMap { h =>
            val at = rowOf(h.get(0).asInstanceOf[Number].longValue)
            if (at < 0) None
            else {
              val r = proj.rel.data(at)
              Some(InternalRow.fromSeq(value.map(_(h, r))))
            }
          }
          val rel = LocalRelation(
            org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema), joined)
          // the offset slice ranks by score, whatever a sort spec orders by.
          // In rank order each query's block is contiguous, so a row is past
          // its block's first `offset` rows iff the row `offset` places
          // before it has the same `_qid`: one linear pass
          val sliced =
            if (req.offset == 0) joined
            else {
              val ranked = sortedLocally(spark, rel, order)
              val (qAt, qT) = (out.indexOf("_qid"), hitSchema("_qid").dataType)
              def qidOf(i: Int): Any = if (qAt < 0) null else ranked(i).get(qAt, qT)
              ranked.indices.collect {
                case i if i >= req.offset && qidOf(i - req.offset) == qidOf(i) => ranked(i)
              }
            }
          val ordered =
            if (req.sort.nonEmpty) sortedLocally(spark, rel.copy(data = sliced), sortOrder)
            else if (req.offset > 0) sliced // already in rank order
            else sortedLocally(spark, rel, order)
          org.apache.spark.sql.graft.Bridge.ofRows(spark, rel.copy(data = ordered))
        }
    }
    // the pruned fetch: scalar payloads come from ONE broadcast join of
    // the collected hits back onto a PRUNED slice of the LIVE view (a
    // tail hit's payload lives in the buffer, not the base table). The
    // hit ids push INTO the payload scan:
    // `rid IN (ids)` always (parquet row-group skipping), plus
    // `_bucket IN (pmod(hash(id), nb))` partition pruning on a
    // catalog-bucketed space - the reference's O(k) docid point reads
    // (engine.cc:902-911), never a full corpus read per query. The join
    // keys on the ROUTING column - for a string-PK space that is the
    // `_docid` sidecar (bucket derivation needs the PK hash, so those
    // spaces prune by id-IN only), and the joined row carries the string
    // `_id` the projection serves (the reference's docid->PK bridge).
    def fetchPayload(hits: Array[Row], hitSchema: StructType): DataFrame = {
      val idT = hitSchema("vec_id").dataType
      val local = corpus.sparkSession.createDataFrame(
        java.util.Arrays.asList(hits: _*), hitSchema)
      val idVals: Seq[Any] = hits.map(_.get(0)).distinct.toSeq
      val idFilter =
        if (idVals.isEmpty) lit(false) else col(ridName).isin(idVals: _*)
      // exactness of pruning BEFORE the tail upsert: it only applies
      // when the routing column IS the PK (`_id`), so every version of
      // a document shares its routing id - a superseded base row and
      // its buffered update filter identically
      val pruned = (bucketedCorpus, bucketNb) match {
        case (Some(b), Some(nb)) if ridName == "_id" && idVals.nonEmpty =>
          val baseP = bucketFetch(b, nb, idVals, idT)
          if (tailOn)
            graft.operators.Documents.upsert(baseP,
              tail.get.buffered(corpus.schema, lifecycle.allDeletes())
                .filter(idFilter), "_id")
          else baseP
        case _ => live.filter(idFilter)
      }
      pruned.join(broadcast(local.select(
        col("vec_id").as(ridName), col("_score"), col("_qid"))), ridName)
    }
    // shared scalar-filter functor for the GRAPH families: ONE bounded
    // take() both probes the selectivity and collects the allow-set (the
    // reference's planner switch, engine.cc:355-373) - a broad filter's
    // ids never reach the driver past the cap, and the probe runs over
    // the LIVE view so fresh tail rows that match the filter are
    // admitted too. Lazy: evaluated only when a graph leg actually needs
    // it, and at most once per request (multi-field conjunctions share
    // it across every graph leg). Some(None) = no filter; None = broad
    // filter -> the whole request degrades to filter-first brute FLAT.
    // Without a tail `live` IS the opened snapshot, so the snapshot's
    // resident SCALAR projection ([[residentAllow]]) answers the same
    // predicate over the same rows with no Spark job. A tail skips it
    // before any footer is read.
    lazy val allowProbe: Option[Option[Set[Long]]] = pred match {
      case Some(p) =>
        val probed = (if (tailOn) None
          else residentAllow(corpus0, space, ridName, p)).getOrElse(
            live.filter(p).select(col(ridName).cast("long"))
              .take(maxFilterAllowIds + 1).map(_.getLong(0)))
        if (probed.length > maxFilterAllowIds) None
        else Some(Some(probed.toSet))
      case None => Some(None)
    }
    // one precedence chain for every index param: request index_params
    // override the field's space params (doc_query.go:1475-1522) - the
    // callers supply the default (and any cap) at the use site
    def param(name: String,
        opts: graft.schema.VectorOptions): Option[Int] =
      req.indexParams.get(name).filter(_ > 0)
        .orElse(opts.indexParams.get(name).filter(_ > 0))

    // ------ ONE SERVING RECIPE PER FAMILY ------------------------------
    // legFor builds the index-served hits for ONE vector condition - the
    // same builder backs the single-condition route and every
    // multi-field conjunction leg, for one query or a req_num batch, so
    // each family's filter/gate/tail plumbing exists exactly once.
    //
    // Shape: (_qid, vec_id, _score) for every request - a single query
    // is qid 0; None = no READY generation or no route for this family x
    // value-type (the caller degrades to the exact FLAT path - the
    // reference's below-training-threshold fallback, engine.cc:280-308),
    // or a broad scalar filter on a graph family (the planner switch,
    // engine.cc:355-373).
    //
    // The recipe per family (vector_manager.cc:941-1176 with the
    // admission gates of gamma_common_data.h:94-105):
    //  - the field's value type picks the distance domain
    //    (index_model.h:19): float -> metric kernels; int8 -> the request
    //    quantizes ONCE with the ingest quantizer, graph walks and ADC
    //    shortlists run in the raw-code float domain (small integers are
    //    exact in float, so walk distances equal the integer kernels
    //    bit-for-bit) while tails and exact reranks use the integer
    //    kernels; binary -> sign codes, Hamming ascending.
    //  - scalar filters: scan families evaluate the predicate IN-SCAN
    //    inside their probed lists; graph families take the shared
    //    [[allowProbe]] allow-set functor, broadcast at most ONCE per
    //    leg and only when the walk runs as a Spark job - never
    //    re-shipped across gate-loop retries.
    //  - score gates (doc_query.go:67-78): scan families gate IN-SCAN at
    //    heap admission; the beam-limited graph families over-fetch
    //    through the driver-bounded gate loop above.
    //  - realtime tail: every family merges the buffered writes through
    //    mergeTail (vector_manager.cc:941-1012,1096-1176); the tail leg
    //    brute-scores the buffer in the condition's value domain with
    //    the filter and THIS condition's gate in-scan (the gate is on the
    //    final score, so pre-gating the tail stays exact for the graph
    //    loop too - it re-gates the merged stream).
    //  - one operator call per family: a scan family calls its batch
    //    operator for any query count (a single query is a batch of
    //    one), which prunes with a static `list_id IN` the union of
    //    every query's probe lists and merges per query through
    //    [[Knn.topKPerQuery]].
    def legFor(vc: VecCond, lc: IndexLifecycle, k: Int): Option[DataFrame] = {
      val fOptsO = space.vectorFields.find(_.name == vc.field).flatMap(_.vector)
      if (fOptsO.isEmpty) None
      else {
        val fOpts = fOptsO.get
        // hit-id contract: routed families report the LONG routing id as
        // `vec_id`; a rid-FREE space (hand-rolled string PK, no `_docid`
        // sidecar) has no long id space, so the SCAN families — whose
        // layouts store full corpus rows, PK included — report the PK
        // itself and [[fetchPayload]] bridges in the native type. Graph
        // layouts store long vec_ids structurally, so a rid-free space
        // CANNOT serve them — and silently degrading to the exact FLAT
        // scan would hide an O(corpus)-per-query cliff behind a declared
        // graph index, so those arms FAIL LOUD instead (the reference
        // errors on unservable shapes rather than degrading — its ingest
        // always mints docids, engine.cc:730-745, so this shape only
        // exists when the catalog path was bypassed). The explicit brute
        // escapes stay open: per-condition index_type=FLAT and
        // is_brute_search=1 never enter these arms.
        def noDocidRoute(family: String): Nothing =
          throw new IllegalArgumentException(
            noDocidMsg(space.name, vc.field, family))
        val nq = vc.queries.size
        // a scan family's batch-operator rows as leg rows
        def legRows(hits: DataFrame, id: String): DataFrame =
          hits.select(col("_qid"),
            if (rid.isEmpty) col(id).as("vec_id")
            else col(id).cast("long").as("vec_id"),
            col("_score"))
        val isBin = fOpts.valueType == "binary"
        val isI8 = fOpts.valueType == "int8"
        // the integer kernels are ip/l2 (matching [[Knn.searchInt8]]) -
        // other int8 metrics keep the FLAT fallback
        val i8Metric = Set("ip", "l2", "l2sq").contains(metricOf(space, vc.field))
        val metric = rankMetric(space, vc.field)
        // per-query encodings, computed ONCE (normalization is declared
        // float-only - a no-op on int8/binary fields)
        val qsN: Seq[(Long, Seq[Float])] = vc.queries.zipWithIndex.map {
          case (q, i) => (i.toLong, maybeNormalize(space, vc.field, q)) }
        lazy val qI8: Seq[(Long, Array[Byte])] = qsN.map { case (qid, q) =>
          (qid, graft.functions.VecKernels.quantizeI8(
            new org.apache.spark.sql.catalyst.util.GenericArrayData(q.toArray))) }
        lazy val qCodes: Seq[(Long, Array[Byte])] = qsN.map { case (qid, q) =>
          (qid, graft.functions.VecKernels.signBits(
            new org.apache.spark.sql.catalyst.util.GenericArrayData(q.toArray))
            .asInstanceOf[Array[Byte]]) }
        // graph walks and ADC shortlists run on these: raw code values
        // as floats for int8 legs, the (normalized) request floats else
        def walkQs: Seq[(Long, Seq[Float])] =
          if (isI8) qI8.map { case (qid, c) => (qid, c.toSeq.map(_.toFloat)) }
          else qsN
        // this condition's score gate as the graph walks' result-heap
        // band ([lo, hi] on the reported score): the walk returns the
        // gated ranking's own prefix, so the gate loop converges on its
        // first probe. Exact in the same sense as the ungated walk: with
        // ef >= |shard| the walk is exhaustive, and int8 legs' raw-code
        // float domain reports scores identical to the integer kernels.
        val band: Option[(Double, Double)] =
          if (vc.minScore.isDefined || vc.maxScore.isDefined)
            Some((vc.minScore.getOrElse(Double.NegativeInfinity),
              vc.maxScore.getOrElse(Double.PositiveInfinity)))
          else None
        // tail leg: ONE brute pass over the (bounded) buffer in the
        // condition's value domain, each row paired with every query of
        // the literal (qid, query) array, then the per-query top-d
        def tailScan(d: Int)(td: DataFrame): DataFrame = {
          val withQ = pred.map(td.filter).getOrElse(td).withColumn("_q", explode(
            if (isBin) typedLit(qCodes) else if (isI8) typedLit(qI8) else typedLit(qsN)))
          val (v, q) = (col(vc.field), col("_q._2"))
          val score =
            if (isBin) graft.Graft.F.hamming(v, q).cast("double")
            else if (isI8) Knn.scoreInt8(metric, v, q)
            else Knn.score(metric, v, q)
          val scored = withQ.select(col("_q._1").as("_qid"),
            col(ridName).cast("long").as("vec_id"), score.as("_score"))
          Knn.topKPerQuery(Knn.scoreGate(scored, vc.minScore, vc.maxScore),
            nq, d, Knn.ascending(metric))
        }
        def withTail(deny: Set[Long], d: Int)(base: Int => DataFrame): DataFrame =
          if (!tailOn) base(d)
          else tail.get.mergeTail(corpus.schema, d, metric, nq, deny)(
            tailScan(d))(base)
        // graph-family core (HNSW and Vamana differ only in their segment
        // encoder and walk): allow-functor filtering with the broad-filter
        // FLAT switch, the admission (allow-set minus deny, or deny alone)
        // built ONCE per leg outside the gate loop's retried closure,
        // value-typed tail merge. Score gates ride INTO the walk's result
        // heap (the `band` threaded at the case sites below), so a gated
        // leg's first gate-loop probe already returns the gated ranking's
        // prefix and the walk runs ONCE — no depth-doubling re-pay.
        // The walks run over the layout's decoded segments on the driver
        // when the open-cache entry of `table` keeps them resident (at
        // most [[maxFilterAllowIds]] nodes and within the driver's byte
        // budget, both read from its footers before anything is decoded;
        // [[graft.sources.IndexStore.decoded]]), else as a Spark job over
        // the segment table; both walk the same routed shard set with the same
        // admission and merge in the same order ([[HnswIndex.fanOut]]).
        // Zero-result short-circuit (engine.cc:365-372): an empty
        // allow-set admits no row, base or tail, so the leg walks no
        // segment and is its own plan under `limit(0)`, which the optimizer
        // folds to an empty local relation: the leg's schema, no walk,
        // and no payload fetch scan downstream.
        def graphLeg[S <: graft.operators.HnswIndex.Sharded](table: DataFrame,
            model: Option[IvfIndex.Model], enc: org.apache.spark.sql.Encoder[S],
            deny: Set[Long])(
            walk: (S, Array[Float], Int, Long => Boolean) => Array[(Long, Double)])
            : Option[DataFrame] =
          allowProbe.map { allow =>
            val none = allow.exists(_.isEmpty)
            val admit = graft.operators.HnswIndex.admission(
              corpus.sparkSession, allow, deny)
            // clustered generations (SPANN layout): the union of every
            // query's nprobe route. On the Spark arm the shard_id filter is
            // parquet PARTITION PRUNING over the partitionBy(shard_id)
            // layout, so the pruned segments' IO never happens. Default
            // nprobe = ncentroids (exact serving); requests/spaces narrow
            // it via index_params. Extra shards in a batch's union only add
            // candidates to the per-qid merge - correctness unchanged.
            val shards = model.map { m =>
              val nprobe = math.min(
                param("nprobe", fOpts).getOrElse(m.ncentroids), m.ncentroids)
              walkQs.flatMap(q => m.nearestCentroids(q._2, nprobe)).distinct
            }
            val resident =
              if (none) Some(Nil)
              else graft.sources.IndexStore.decoded(table, enc,
                  graft.operators.HnswIndex.NodeIds, maxFilterAllowIds)
                .map(segs => shards.fold(segs) { s =>
                  val routed = s.toSet; segs.filter(seg => routed(seg.shard_id)) })
            lazy val segments = {
              val t = table.as(enc)
              shards.fold(t)(s => t.filter(col("shard_id").isin(s: _*)))
            }
            gateLoop(corpus.sparkSession, k, metric, vc.minScore,
              vc.maxScore) { d =>
              val hits = withTail(deny, d)(kb =>
                graft.operators.HnswIndex.fanOut(corpus.sparkSession, resident,
                  segments, walkQs, kb, metric, admit)(walk(_, _, kb, _)))
              if (none) hits.limit(0) else hits
            }
          }
        // the request's per-condition index_type wins over the declared
        // one (doc_query.go:277-283); parseSearch validated it, so the
        // only divergent value here is the "FLAT" brute override — no
        // kind, the caller serves this condition exactly. A family routes
        // only in its value domain: BINARYIVF over binary codes, every
        // other family over float, or int8 under the integer kernels'
        // metrics; any other pairing has no route -> FLAT.
        val indexType = vc.indexType.getOrElse(fOpts.indexType)
        IndexLifecycle.kindOf(indexType).filter(kind =>
          if (kind == Kind.BinaryIvf) isBin else !isBin && (!isI8 || i8Metric)
        ).flatMap { kind =>
          if ((kind == Kind.Hnsw || kind == Kind.Vamana) && rid.isEmpty)
            noDocidRoute(indexType)
          // ONE state read per leg: the layout, models and delete gate
          // below all come from this one READY generation
          lc.ready(kind).flatMap { g =>
            val deny = g.deny
            // a scan family's served layout: delete-gated, then the
            // scalar predicate (evaluated in-scan inside the probed lists)
            lazy val served = {
              val gated = graft.operators.Documents.dropIds(g.table,
                col(ridName), deny, g.table.schema(ridName).dataType)
              pred.map(gated.filter).getOrElse(gated)
            }
            kind match {
              case Kind.Hnsw =>
                val ef = math.max(param("efSearch", fOpts).getOrElse(64), k)
                graphLeg(g.table, g.routedModel(metric),
                  graft.operators.HnswIndex.segmentEncoder, deny)(
                  (seg, q, kb, a) => graft.operators.HnswIndex.searchSegment(
                    seg, q, kb, math.max(ef, kb), metric, a, band))
              // the reference's DiskANN-static class
              // (gamma_index_diskann_static.cc): `l_search`/`beam_width`
              // resolve over the space's `L`/`beam_width`
              // (diskann_static_params.h:27-38). SSG - the other
              // flat-graph RNG-family index (wrapped third-party,
              // impl/ssg/) - aliases to the Vamana generation the way
              // GPU_* alias to CPU layouts.
              case Kind.Vamana =>
                val l = math.max(
                  req.indexParams.get("l_search").filter(_ > 0)
                    .orElse(fOpts.indexParams.get("L").filter(_ > 0))
                    .getOrElse(100), k)
                val bw = param("beam_width", fOpts).getOrElse(4)
                graphLeg(g.table, g.routedModel(metric),
                  graft.operators.VamanaIndex.segmentEncoder, deny)(
                  (seg, q, kb, a) => graft.operators.VamanaIndex.searchSegment(
                    seg, q, kb, math.max(l, kb), bw, metric, a, band))
              // GPU_* spaces execute on CUDA in the reference; here they
              // serve from the equivalent CPU layout - same semantics.
              // `nprobe` resolves request index_params -> space params ->
              // the model default 80 (gamma_index_ivfflat.cc:52-54),
              // capped at ncentroids. INT8 probes with the FLOAT query
              // (centroids live in the de-quantized domain, see
              // IndexLifecycle.rebuild) and scores in-scan with the
              // integer kernels. Gates apply in-scan - zero over-fetch,
              // no gate loop; a batch runs one probe-union pass.
              case Kind.Ivf =>
                val model = g.centroidModel(metric)
                val nprobe = math.min(
                  param("nprobe", fOpts).getOrElse(80), model.ncentroids)
                Some(withTail(deny, k)(kb =>
                  legRows(
                    if (isI8)
                      IvfIndex.searchBatchInt8(served, col(vc.field),
                        struct(col(ridName)),
                        qsN.zip(qI8).map { case ((qid, q), (_, code)) =>
                          (qid, q, code) },
                        model, kb, nprobe,
                        minScore = vc.minScore, maxScore = vc.maxScore)
                    else
                      IvfIndex.searchBatch(served, col(vc.field),
                        struct(col(ridName)), qsN, model, kb, nprobe,
                        minScore = vc.minScore, maxScore = vc.maxScore),
                    s"_item.$ridName")))
              // the compressed families: ADC over residual codes inside
              // nprobe lists, then a `recall_num`-deep exact rerank
              // (gamma_index_ivfpq.cc:765-768 - recall_num caps at
              // max(recall_num, k), absent = k). Predicate + delete gate
              // pre-compose into the scan both stages run over; score
              // gates apply at the exact-rerank heap - the stage the
              // final score exists at. SCANN (anisotropic quantization,
              // Guo et al. ICML 2020) shares the serving composition -
              // only its codebook training loss and recall default (10k)
              // differ. INT8 legs shortlist in the raw-code domain,
              // rerank with the integer kernels.
              case Kind.Pq | Kind.Scann =>
                val (ivf, pq) = (g.ivfModel(metric), g.pqModel(metric))
                val nprobe = math.min(
                  param("nprobe", fOpts).getOrElse(80), ivf.ncentroids)
                val recallNum = math.max(
                  param("recall_num", fOpts).getOrElse(
                    if (kind == Kind.Scann) math.max(10 * k, 100) else k), k)
                Some(withTail(deny, k)(kb =>
                  legRows(
                    graft.operators.PqIndex.searchBatchIvfResidual(served,
                      col(vc.field), ivf, pq, walkQs, kb, nprobe,
                      math.max(recallNum, kb), idCol = col(ridName),
                      minScore = vc.minScore, maxScore = vc.maxScore,
                      rerankInt8 = if (isI8) Some(qI8) else None), "_id")))
              // RaBitQ class: coarse probe, residual sign-code estimator
              // (qb in [0,8]), `recall_num`-deep exact rerank
              // (gamma_index_ivfrabitq.cc:105,214-223)
              case Kind.Rabitq =>
                val ivf = g.ivfModel(metric)
                val nprobe = math.min(
                  param("nprobe", fOpts).getOrElse(80), ivf.ncentroids)
                val shortlist = math.max(
                  param("recall_num", fOpts)
                    .getOrElse(math.max(10 * k, 100)), k)
                val qbBits = req.indexParams.get("qb")
                  .orElse(fOpts.indexParams.get("qb"))
                  .filter(v => v >= 0 && v <= 8).getOrElse(4)
                Some(withTail(deny, k)(kb =>
                  legRows(
                    graft.operators.BinaryIndex.searchBatchIvfResidual(served,
                      col(vc.field), ivf, walkQs, kb, nprobe,
                      math.max(shortlist, kb), idCol = col(ridName),
                      metric = metric, qb = qbBits, minScore = vc.minScore,
                      maxScore = vc.maxScore,
                      rerankInt8 = if (isI8) Some(qI8) else None), "_id")))
              // binary value_type: the stored column IS the packed code;
              // the request's float features sign-binarize like the FLAT
              // binary path, then route = probe nprobe Hamming-nearest
              // lists (partition pruning), rank by code Hamming - the
              // reference's IndexBinaryIVF semantics
              // (gamma_index_binary_ivf.cc). Hamming IS the final score,
              // so gates apply in-scan.
              case Kind.BinaryIvf =>
                val cents = g.binaryCentroids
                val nprobe = math.min(
                  param("nprobe", fOpts).getOrElse(80), cents.length)
                Some(withTail(deny, k)(kb =>
                  legRows(
                    graft.operators.BinaryIndex.searchBatchBinaryIvf(served,
                      vc.field, cents, qCodes, kb, nprobe,
                      idCol = col(ridName), minScore = vc.minScore,
                      maxScore = vc.maxScore), "_id")))
            }
          }
        }
      }
    }

    // ------ multi-field conjunctive ROUTING (the reference searches
    // each field's OWN index and intersects docids,
    // vector_manager.cc:859,1024-1087; with a live buffer it merges the
    // buffer into the PER-FIELD searches before the intersection,
    // :1096-1176; req_num flattens into one request per field,
    // doc_query.go:296-318). Each leg serves through its field's OWN
    // READY generation KIND under the lifecycle's field scope
    // ([[IndexLifecycle.scoped]]) - the (_qid, vec_id) intersection join
    // is family-agnostic, so mixed HNSW + IVF + Vamana conjunctions route
    // too. Any field without a READY generation (or a family x
    // value-type with no route) degrades the WHOLE request to FLAT (a
    // partial intersection of one indexed and one brute leg would be no
    // cheaper and harder to bound).
    val nq = req.vectors.headOption.map(_.queries.size).getOrElse(0)
    if (req.isBruteSearch != 1 && req.vectors.size > 1 &&
        req.vectors.forall(_.queries.size == nq)) {
      val legs: Seq[Option[DataFrame]] = req.vectors.map(vc =>
        legFor(vc, lifecycle.scoped(vc.field), perFieldK(req)))
      if (legs.forall(_.isDefined)) {
        val nf = legs.size
        val w = req.weights.getOrElse(Seq.fill(nf)(1.0 / nf))
        require(w.size == nf, "weights arity must match vector conditions")
        val joined = legs.flatten.zipWithIndex
          .map { case (df, i) =>
            df.select(col("_qid"), col("vec_id"), col("_score").as(s"_s$i")) }
          .reduceLeft((a, b) => a.join(b, Seq("_qid", "vec_id")))
        // lead condition sets the response direction
        // (doc_query.go:1526-1528); a binary lead ranks ascending
        val headMetric = rankMetric(space, req.vectors.head.field)
        val combined = (0 until nf)
          .map(i => col(s"_s$i") * lit(w(i))).reduceLeft(_ + _)
        val hits = Knn.topKPerQuery(joined.withColumn("_score", combined), nq,
          req.limit + req.offset, Knn.ascending(headMetric))
        // conjunctive results carry (_qid, _id, _score), like the FLAT path
        return finish(hits, headMetric, nq, Seq("_qid", "_id", "_score"))
      }
    }

    // ------ single-condition routing: one [[legFor]] leg, payload
    // joined back onto the LIVE view, finished per query. Generations
    // resolve unscoped first (the single-vector-field convention), then
    // under the field's scope — a single-condition request against a
    // MULTI-field space serves from that field's own generation instead
    // of degrading to FLAT (the reference searches the field's index
    // whatever the request shape, vector_manager.cc:941-1012). No route
    // => the exact FLAT path over the live view (fresh writes are never
    // invisible, whatever the route).
    val routed: Option[DataFrame] =
      if (req.isBruteSearch != 1 && req.vectors.size == 1) {
        val vc = req.vectors.head
        legFor(vc, lifecycle, req.limit + req.offset)
          .orElse(legFor(vc, lifecycle.scoped(vc.field), req.limit + req.offset))
          .map(hits => finish(hits, rankMetric(space, vc.field), nq,
            projection(space, req, Seq("_qid", "_score"))))
      } else None
    routed.getOrElse(search(live, space, requestJson))
  }

  /** `POST /document/query` → DataFrame: document_ids path (request order)
    * or filtered scan with limit/offset. No scoring, no defined global
    * order beyond the reference's (we sort by `_id` for determinism only
    * when neither ids nor filters demand an order).
    */
  def query(corpus0: DataFrame, space: Space, requestJson: String,
      lifecycle: Option[IndexLifecycle] = None): DataFrame = {
    // same internal `_bucket` contract as [[searchAuto]]: a corpus still
    // carrying the catalog's id-hash partition column partition-prunes
    // the document_ids point reads; the column never reaches results
    val bucketedCorpus: Option[DataFrame] =
      if (corpus0.columns.contains("_bucket")) Some(corpus0) else None
    val corpus = bucketedCorpus.map(_.drop("_bucket")).getOrElse(corpus0)
    lazy val bucketNb: Option[Int] = for {
      _ <- bucketedCorpus
      lc <- lifecycle
      nb <- graft.schema.SpaceCatalog.bucketsOf(lc.path)
    } yield nb
    val j = JsonMethods.parse(requestJson)
    val req = parseSearch(
      JsonMethods.compact(JsonMethods.render(j removeField {
        case ("document_ids", _) => true; case _ => false })), space)
    (j \ "document_ids") match {
      case JArray(ids) if ids.nonEmpty =>
        // DocumentIds is *[]string in the reference (search_doc.go:84):
        // a non-string element is the unmarshal error, never dropped;
        // a JSON null element unmarshals to "" in Go (matches no doc)
        val idSeq = ids.map {
          case JString(s) => s
          case JNull => ""
          case other => throw new IllegalArgumentException(
            "unmarshal err: document_ids must be strings, got " +
              s"[${JsonMethods.compact(JsonMethods.render(other))}]")
        }
        val spark = corpus.sparkSession
        import spark.implicits._
        // point reads prune like the routed payload fetch: id-IN into
        // the scan always, plus `_bucket IN` partition pruning on a
        // catalog layout (the reference's GetDocs = RocksDB point reads,
        // engine.cc:869-911) — fetch IO tracks |ids|, not the corpus.
        // Wire ids are JSON strings whatever the PK type; an integral PK
        // must coerce BEFORE hashing (`Literal.create(String, LongType)`
        // throws) and before the id-IN/join (ANSI cast of a non-numeric
        // string errors the whole request). A non-coercible id can never
        // match an integral column, so it simply contributes no row —
        // the coercible subset still bucket-prunes.
        import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
        val idT = corpus.schema("_id").dataType
        def coerce(s: String): Option[Any] = idT match {
          case LongType    => s.trim.toLongOption
          case IntegerType => s.trim.toIntOption
          case _           => Some(s)
        }
        val typed: Seq[(Int, Any)] = idSeq.zipWithIndex.flatMap {
          case (s, i) => coerce(s).map(id => (i, id))
        }
        val reqDf = spark.createDataFrame(
          spark.sparkContext.parallelize(
            typed.map { case (i, id) => org.apache.spark.sql.Row(i, id) }, 1),
          StructType(Seq(
            StructField("_ord", IntegerType, nullable = false),
            StructField("_id", idT, nullable = true))))
        val tids = typed.map(_._2)
        val idFilter =
          if (tids.nonEmpty) col("_id").isin(tids: _*) else lit(false)
        val base = (bucketedCorpus, bucketNb) match {
          case (Some(b), Some(nb)) if tids.nonEmpty => bucketFetch(b, nb, tids, idT)
          case _ => corpus.filter(idFilter)
        }
        base.join(broadcast(reqDf), Seq("_id")).orderBy(col("_ord"))
          .limit(req.limit)
          .select(projection(space, req, Seq.empty).map(col): _*)
      case _ =>
        val pred = filterOf(space, req)
        val filtered = pred.map(corpus.filter).getOrElse(corpus)
        // sort spec defines the scan order (sortorder/parse.go); `_id`
        // appended keeps the page boundary deterministic on ties
        val ordered =
          if (req.sort.nonEmpty) filtered.orderBy(sortCols(req.sort) :+ col("_id").asc: _*)
          else filtered.orderBy(col("_id"))
        val sliced = if (req.offset > 0) ordered.offset(req.offset) else ordered
        sliced.limit(req.limit).select(projection(space, req, Seq.empty).map(col): _*)
    }
  }
}
