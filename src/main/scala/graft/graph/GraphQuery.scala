package graft.graph

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}

import graft.bsp.Pin
import graft.rel.Predicates
import graft.rel.Predicates._

import scala.jdk.CollectionConverters._

/**
 * Wire format for [[GraphViews]] — the request-document half of the
 * reference's GraphQL surface (raphtory-graphql/src/model/graph/
 * filtering.rs:54-95 `GraphViewCollection` + :340-404 property filters),
 * without the HTTP server (scoped out, SURVEY §7.1): a remote caller or a
 * saved query ships ONE JSON document; [[run]] parses it into the typed
 * [[GraphViews.ViewOp]] chain + a [[Predicates.Pred]] tree and interprets
 * it. Everything stays declarative — the parsed query compiles to a single
 * Catalyst plan with full pushdown, exactly like the hand-written chain.
 *
 * Document shape (all fields camelCase; every op mirrors a
 * GraphViewCollection variant):
 * {{{
 * { "view": [
 *     {"op":"window","start":100,"end":200},
 *     {"op":"layers","names":["reply"]},
 *     {"op":"excludeNodes","ids":[5,10]},
 *     {"op":"edgeFilter","filter":{"and":[
 *        {"field":"layer","ne":"error"},
 *        {"not":{"field":"src","in":[1,2]}}]}}],
 *   "select": {"target":"edges",
 *              "sort":[{"column":"ts","desc":true}],
 *              "offset":5,"limit":40} }
 * }}}
 *
 * Filter algebra (the JSON-expressible subset of [[Predicates]] — the same
 * shape as the reference's GraphQL `FilterProperties` input): comparisons
 * `eq/ne/gt/ge/lt/le`, strings `startsWith/endsWith/contains`, sets
 * `in/notIn`, null tests `isSome/isNone`, list quantifiers `any/all` with
 * one element-level comparison, and `and/or/not` composition. The
 * closure-carrying `Quant`/`Raw` generality stays library-only.
 */
object GraphQuery {

  final case class Selection(
      target: String,
      sort: Seq[GraphViews.SortKey],
      offset: Int,
      limit: Int)

  /** An algorithm invocation over the composed view — the wire-format
    * counterpart of the reference's server-side algorithm plugins
    * (raphtory-graphql/src/model/plugins/graph_algorithm_plugin.rs:30-40,
    * which exposes `pagerank` and `shortest_path` over the queried
    * graph). `params` stay raw JSON nodes so each algorithm reads its own
    * typed arguments. */
  final case class Algo(name: String, params: Map[String, JsonNode])

  final case class Spec(
      view: Seq[GraphViews.ViewOp],
      select: Selection,
      algorithm: Option[Algo] = None)

  private val mapper = new ObjectMapper()

  /** Parse a query document. Throws IllegalArgumentException with the
    * offending fragment on malformed input. */
  def parse(json: String): Spec = {
    val root = mapper.readTree(json)
    val ops = Option(root.get("view")).toSeq
      .flatMap(_.elements().asScala)
      .map(parseOp)
    val sel = Option(root.get("select")).map(parseSelect).getOrElse(
      Selection("nodes", Seq.empty, 0, -1))
    val algo = Option(root.get("algorithm")).map { a =>
      Algo(
        req(a, "name").asText,
        Option(a.get("params")).map(p =>
          p.fields().asScala.map(e => e.getKey -> e.getValue).toMap)
          .getOrElse(Map.empty))
    }
    Spec(ops, sel, algo)
  }

  /** Parse + interpret against a property graph; returns the selected
    * page as a DataFrame. With an `algorithm` clause the document's view
    * chain composes FIRST (window/layers/filters), the algorithm runs on
    * the composed view, and `select.sort/offset/limit` page its output —
    * the same order the reference's GraphQL algorithm plugins apply. The
    * algorithm's own result is freed here and the page is pinned once: the
    * caller owns it and frees it with [[graft.bsp.Pin.release]]. */
  def run(pg: PropertyGraph, json: String): DataFrame = {
    val spec = parse(json)
    val viewed = GraphViews.applyViews(pg, spec.view)
    val sort = spec.select.sort
    spec.algorithm match {
      case Some(a) => Pin.scope { pins =>
        val out = pins.own(runAlgorithm(a, viewed))
        // default stable order: by id for per-node results; global scalar
        // results (e.g. triangle_count) sort by their first column
        val defaultSort =
          if (out.columns.contains("id")) Seq(GraphViews.SortKey("id"))
          else if (out.columns.take(2).sameElements(Array("a", "b")))
            Seq(GraphViews.SortKey("a"), GraphViews.SortKey("b")) // edge-shaped (k-truss)
          else Seq(GraphViews.SortKey(out.columns.head))
        pins.keep(pins.pin(GraphViews.resultPage(
          out,
          if (sort.nonEmpty) sort else defaultSort,
          spec.select.offset, spec.select.limit)))
      }
      case None =>
        // empty sort → each resolver's own deterministic default (nodes
        // sort by id; edges by (src, dst) — edges carry no `id` column)
        spec.select.target match {
          case "nodes" =>
            GraphViews.nodesPage(
              viewed,
              if (sort.nonEmpty) sort else Seq(GraphViews.SortKey("id")),
              spec.select.offset, spec.select.limit)
          case "edges" =>
            GraphViews.edgesPage(
              viewed.graph,
              if (sort.nonEmpty) sort
              else Seq(GraphViews.SortKey("src"), GraphViews.SortKey("dst")),
              spec.select.offset, spec.select.limit)
          case other => throw new IllegalArgumentException(s"unknown select.target: $other")
        }
    }
  }

  /** Dispatch an [[Algo]] clause to graft.algos over the composed view.
    * Names and params mirror the reference's plugin surface: `pagerank`
    * (iterCount; plus tol/damping with the library defaults) and
    * `shortest_path` (source, cutoff); the rest of the iterative library
    * is exposed under the same convention — `connected_components`,
    * `label_propagation`, `triangle_count` / `local_triangle_count`,
    * `local_clustering_coefficient`, `local_reciprocity`, `degree`,
    * `eigenvector` (iterCount, tol), `katz` (iterCount, alpha, beta),
    * `harmonic` (iterCount), `mis` and `coloring` (maxRounds), `hits`
    * (iterCount, tol), `kcore` (k, iterCount), `coreness` (iterCount —
    * full decomposition), `ktruss` (k, maxRounds),
    * `scc` (maxRounds), `louvain` (resolution, maxLevels), `betweenness`
    * (k sample size, normalized), `component_sizes`. */
  private def runAlgorithm(a: Algo, pg: PropertyGraph): DataFrame = {
    val g = pg.graph
    val spark = g.edges.sparkSession
    def pInt(k: String, d: Int): Int = a.params.get(k).map(_.asInt).getOrElse(d)
    def pDouble(k: String, d: Double): Double = a.params.get(k).map(_.asDouble).getOrElse(d)
    a.name match {
      case "pagerank" =>
        graft.algos.PageRank.run(
          spark, g,
          graft.algos.PageRank.Config(
            maxIter = pInt("iterCount", 20),
            tol = pDouble("tol", 0.0),
            damping = pDouble("damping", 0.85)))
      case "shortest_path" =>
        val source = a.params.get("source").map(_.asLong).getOrElse(
          throw new IllegalArgumentException("shortest_path needs a 'source' param"))
        graft.algos.Paths.sssp(spark, g, source, pInt("cutoff", 20))
      case "connected_components" =>
        graft.algos.ConnectedComponents.run(spark, g)
      case "eigenvector" =>
        graft.algos.Centrality.eigenvector(
          spark, g,
          graft.algos.Centrality.Config(
            maxIter = pInt("iterCount", 20), tol = pDouble("tol", 0.0)))
      case "katz" =>
        graft.algos.Centrality.katz(
          spark, g, alpha = pDouble("alpha", 0.1), beta = pDouble("beta", 1.0),
          graft.algos.Centrality.Config(
            maxIter = pInt("iterCount", 20), tol = pDouble("tol", 0.0)))
      case "harmonic" =>
        graft.algos.Reach.harmonicCloseness(spark, g, iters = pInt("iterCount", 8))
      case "mis" =>
        graft.algos.Independent.maximalIndependentSet(
          spark, g, maxRounds = pInt("maxRounds", 256))
      case "coloring" =>
        // JP's round count is the priority-DAG depth — ~150 on the dense
        // sf0.01 event graph — so the default must exceed it; Independent
        // now throws (rather than returning null colors) if it is hit.
        graft.algos.Independent.jonesPlassmann(
          spark, g, maxRounds = pInt("maxRounds", 1024))
      case "label_propagation" =>
        graft.algos.LabelPropagation.run(
          spark, g,
          graft.algos.LabelPropagation.Config(maxIter = pInt("iterCount", 20)))
      case "triangle_count" => {
        import spark.implicits._
        Seq(graft.algos.Triangles.globalCount(spark, g)).toDF("triangles")
      }
      case "local_triangle_count" =>
        graft.algos.Triangles.localCounts(spark, g)
      case "local_clustering_coefficient" =>
        graft.algos.Metrics.localClusteringCoefficient(spark, g)
      case "local_reciprocity" =>
        graft.algos.Metrics.localReciprocity(g)
      case "degree" =>
        graft.algos.Metrics.degreeStats(g)
      case "hits" =>
        graft.algos.Hits.run(
          spark, g,
          graft.algos.Hits.Config(
            maxIter = pInt("iterCount", 20), tol = pDouble("tol", 0.01)))
      case "kcore" =>
        val k = a.params.get("k").map(_.asInt).getOrElse(
          throw new IllegalArgumentException("kcore needs a 'k' param"))
        graft.algos.KCore.coreSet(
          spark, g, graft.algos.KCore.Config(k = k, maxIter = pInt("iterCount", 1000)))
      case "coreness" =>
        graft.algos.KCore.coreness(spark, g, maxIter = pInt("iterCount", 100))
      case "ktruss" =>
        val k = a.params.get("k").map(_.asInt).getOrElse(
          throw new IllegalArgumentException("ktruss needs a 'k' param"))
        graft.algos.Truss.run(spark, g, k, pInt("maxRounds", 64))
      case "scc" =>
        graft.algos.Scc.run(
          spark, g, graft.algos.Scc.Config(maxRounds = pInt("maxRounds", 64)))
      case "louvain" =>
        graft.algos.Louvain.run(
          spark, g,
          graft.algos.Louvain.Config(
            resolution = pDouble("resolution", 1.0),
            maxLevels = pInt("maxLevels", 20)))
      case "betweenness" =>
        graft.algos.Betweenness.run(
          spark, g,
          k = a.params.get("k").map(_.asInt),
          normalized = a.params.get("normalized").exists(_.asBoolean))
      case "component_sizes" =>
        graft.algos.Components.componentSizes(spark, g)
      case other => throw new IllegalArgumentException(s"unknown algorithm: $other")
    }
  }

  /** Graph-only convenience (node-dimension ops rejected by GraphViews). */
  def run(g: TemporalGraph, json: String): DataFrame =
    run(PropertyGraph(g, g.edges.sparkSession.range(0).select(
      col("id"), lit(0L).as("ts"), lit(null).cast("string").as("node_type"))), json)

  // ---- view ops ----

  private def parseOp(n: JsonNode): GraphViews.ViewOp = {
    import GraphViews.ViewOp._
    def longs(field: String): Seq[Long] =
      req(n, field).elements().asScala.map(_.asLong).toSeq
    def strs(field: String): Seq[String] =
      req(n, field).elements().asScala.map(_.asText).toSeq
    req(n, "op").asText match {
      case "defaultLayer"      => DefaultLayer
      case "layers"            => Layers(strs("names"))
      case "excludeLayers"     => ExcludeLayers(strs("names"))
      case "subgraph"          => Subgraph(longs("ids"))
      case "subgraphNodeTypes" => SubgraphNodeTypes(strs("types"))
      case "excludeNodes"      => ExcludeNodes(longs("ids"))
      case "window"            => Window(req(n, "start").asLong, req(n, "end").asLong)
      case "at"                => At(req(n, "time").asLong)
      case "latest"            => Latest
      case "snapshotAt"        => SnapshotAt(req(n, "time").asLong)
      case "snapshotLatest"    => SnapshotLatest
      case "before"            => Before(req(n, "time").asLong)
      case "after"             => After(req(n, "time").asLong)
      case "shrinkWindow"      => ShrinkWindow(req(n, "start").asLong, req(n, "end").asLong)
      case "shrinkStart"       => ShrinkStart(req(n, "start").asLong)
      case "shrinkEnd"         => ShrinkEnd(req(n, "end").asLong)
      case "nodeFilter"        => NodeFilter(parsePred(req(n, "filter")).compile)
      case "edgeFilter"        => EdgeFilter(parsePred(req(n, "filter")).compile)
      case "nullModel" =>
        NullModel(
          req(n, "kind").asText,
          Option(n.get("seed")).map(_.asLong).getOrElse(42L))
      case other => throw new IllegalArgumentException(s"unknown view op: $other")
    }
  }

  private def parseSelect(n: JsonNode): Selection = {
    val sort = Option(n.get("sort")).toSeq
      .flatMap(_.elements().asScala)
      .map(s => GraphViews.SortKey(
        req(s, "column").asText,
        Option(s.get("desc")).exists(_.asBoolean)))
    Selection(
      req(n, "target").asText,
      sort,
      Option(n.get("offset")).map(_.asInt).getOrElse(0),
      Option(n.get("limit")).map(_.asInt).getOrElse(-1))
  }

  // ---- filter tree ----

  /** JSON → [[Predicates.Pred]] (public: also useful for saved filters). */
  def parsePred(n: JsonNode): Pred =
    if (n.has("and")) n.get("and").elements().asScala.map(parsePred).reduce(And(_, _))
    else if (n.has("or")) n.get("or").elements().asScala.map(parsePred).reduce(Or(_, _))
    else if (n.has("not")) Not(parsePred(n.get("not")))
    else leaf(n)

  private val cmpOps = Seq("eq", "ne", "gt", "ge", "lt", "le")

  private def leaf(n: JsonNode): Pred = {
    val f = req(n, "field").asText
    cmpOps.find(n.has) match {
      case Some(op) => Cmp(f, op, value(n.get(op)))
      case None =>
        if (n.has("startsWith")) Str(f, "starts", n.get("startsWith").asText)
        else if (n.has("endsWith")) Str(f, "ends", n.get("endsWith").asText)
        else if (n.has("contains")) Str(f, "contains", n.get("contains").asText)
        else if (n.has("in")) In(f, n.get("in").elements().asScala.map(value).toSeq, negated = false)
        else if (n.has("notIn")) In(f, n.get("notIn").elements().asScala.map(value).toSeq, negated = true)
        else if (n.has("isSome")) NullTest(f, some = n.get("isSome").asBoolean)
        else if (n.has("isNone")) NullTest(f, some = !n.get("isNone").asBoolean)
        else if (n.has("any")) Quant(f, exists = true, elemCmp(n.get("any")))
        else if (n.has("all")) Quant(f, exists = false, elemCmp(n.get("all")))
        else throw new IllegalArgumentException(s"unrecognized filter leaf: $n")
    }
  }

  /** One element-level comparison for list quantifiers:
    * `{"any": {"gt": 5}}`. */
  private def elemCmp(n: JsonNode): Column => Column = {
    val op = cmpOps.find(n.has).getOrElse(
      throw new IllegalArgumentException(s"quantifier needs one of $cmpOps: $n"))
    val v = lit(value(n.get(op)))
    op match {
      case "eq" => x => x === v
      case "ne" => x => x =!= v
      case "gt" => x => x > v
      case "ge" => x => x >= v
      case "lt" => x => x < v
      case "le" => x => x <= v
    }
  }

  private def value(v: JsonNode): Any =
    if (v.isTextual) v.asText
    else if (v.isBoolean) v.asBoolean
    else if (v.isIntegralNumber) v.asLong
    else if (v.isNumber) v.asDouble
    else throw new IllegalArgumentException(s"unsupported literal: $v")

  private def req(n: JsonNode, field: String): JsonNode =
    Option(n.get(field)).getOrElse(
      throw new IllegalArgumentException(s"missing '$field' in $n"))
}
