package graft.vectors

import graft.bsp.Pin
import graft.graph.TemporalGraph
import graft.ml.Similarity
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Vector (semantic-search) layer over a temporal graph — the Spark-first
 * re-expression of the reference's `VectorisedGraph` + `VectorSelection`
 * (raphtory/src/vectors/vectorised_graph.rs, vector_selection.rs):
 * each node and edge is rendered to a document by a TEMPLATE, embedded by an
 * [[Embedder]], and stored in node/edge vector DBs queried by cosine
 * similarity, with hop-expansion ops that grow a selection along the graph.
 *
 * Architecture vs the reference: Raphtory renders minijinja templates
 * entity-at-a-time and stores vectors in LanceDB. Here the template is a
 * Catalyst `Column` over the entity's aggregate row and the "vector DB" is a
 * DataFrame `(…, doc, embedding, earliest, latest)` — at 100 TB that is a
 * parquet table; vectorisation is one scan + one per-entity aggregate, and
 * a search is one broadcast of the (tiny) query against it. Window filters
 * prune on the stored earliest/latest BEFORE any cosine is computed.
 *
 * Search paths: exact brute-force cosine (the default here, exact like the
 * reference's exhaustive LanceDB scan) — for billion-entity corpora compose
 * with [[graft.ml.Similarity.lshTopK]] over the same `(id, embedding)`
 * table for the sublinear bucketed path.
 */
object Vectorise {

  /** Per-node aggregate row the node template ranges over:
    * (id, n_events, earliest, latest) from incident temporal edges. */
  def nodeRows(g: TemporalGraph): DataFrame =
    g.edges
      .select(col("src").as("id"), col("ts"))
      .unionByName(g.edges.select(col("dst").as("id"), col("ts")))
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("earliest"),
        max(col("ts")).as("latest"))

  /** Per-edge aggregate row: (src, dst, n_events, earliest, latest). */
  def edgeRows(g: TemporalGraph): DataFrame =
    g.edges
      .groupBy("src", "dst")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("earliest"),
        max(col("ts")).as("latest"))

  /** Default templates (the reference's DEFAULT_NODE_TEMPLATE /
    * DEFAULT_EDGE_TEMPLATE flavor, template.rs:227-239, over the aggregate
    * row). Only integer-to-string casts, so the portable embedder's oracle
    * replay renders the identical text. */
  val defaultNodeTemplate: Column =
    concat(
      lit("node "), col("id").cast("string"),
      lit(" events "), col("n_events").cast("string"),
      lit(" span "), col("earliest").cast("string"),
      lit(" "), col("latest").cast("string"))

  val defaultEdgeTemplate: Column =
    concat(
      lit("edge "), col("src").cast("string"),
      lit(" to "), col("dst").cast("string"),
      lit(" events "), col("n_events").cast("string"),
      lit(" span "), col("earliest").cast("string"),
      lit(" "), col("latest").cast("string"))

  /** Vectorise a graph: render templates, embed, return the vectorised
    * graph (`Vectorisable::vectorise`, vectorisable.rs). */
  def apply(
      g: TemporalGraph,
      embedder: Embedder = HashEmbedder(),
      nodeTemplate: Column = defaultNodeTemplate,
      edgeTemplate: Column = defaultEdgeTemplate): VectorisedGraph = {
    val nodeDb = nodeRows(g)
      .withColumn("doc", nodeTemplate)
      .withColumn("embedding", embedder.embed("doc"))
    val edgeDb = edgeRows(g)
      .withColumn("doc", edgeTemplate)
      .withColumn("embedding", embedder.embed("doc"))
    VectorisedGraph(g, nodeDb, edgeDb, embedder)
  }
}

/**
 * A vectorised graph: node/edge vector DBs + similarity entry points
 * returning a [[VectorSelection]].
 */
final case class VectorisedGraph(
    graph: TemporalGraph,
    nodeDb: DataFrame,
    edgeDb: DataFrame,
    embedder: Embedder) {

  import VectorisedGraph._

  /** Embedding of a free-text query as a broadcastable one-row frame
    * (`qe` array<double>). */
  def queryEmbedding(query: String): DataFrame = {
    val spark = nodeDb.sparkSession
    import spark.implicits._
    Seq(query).toDF("q").select(embedder.embed("q").as("qe"))
  }

  private def windowed(db: DataFrame, window: Option[(Long, Long)]): DataFrame =
    window match {
      // an entity is in the window iff it has an event INSIDE it
      // (apply_window, vectors/utils.rs): [start, end). The stored
      // earliest/latest bounds only give a necessary condition (an entity
      // with events at t=10 and t=90 overlaps [35,50) but has no event in
      // it), so the bounds act as a cheap prune and the exact membership is
      // a semi-join against the windowed event table — the same per-event
      // filter the frontier() path uses.
      case Some((s, e)) =>
        val pruned = db.filter(col("latest") >= s && col("earliest") < e)
        val ev = graph.edges.filter(col("ts") >= s && col("ts") < e)
        if (db.columns.contains("id")) {
          val ids = ev
            .select(col("src").as("id"))
            .unionByName(ev.select(col("dst").as("id")))
            .distinct()
          pruned.join(ids, Seq("id"), "left_semi")
        } else
          pruned.join(ev.select("src", "dst").distinct(), Seq("src", "dst"), "left_semi")
      case None => db
    }

  private def scored(db: DataFrame, query: String, window: Option[(Long, Long)]): DataFrame =
    windowed(db, window)
      .crossJoin(broadcast(queryEmbedding(query)))
      .withColumn("score", Similarity.cosine("embedding", "qe"))
      .drop("qe")

  def emptySelection: VectorSelection =
    VectorSelection(this, emptyNodeSel(nodeDb), emptyEdgeSel(edgeDb))

  /** Semantic clustering of the node corpus: [[graft.ml.Clustering]]
    * k-means over the rendered node embeddings — groups entities whose
    * documents describe similar structure (the clustering counterpart of
    * [[nodesBySimilarity]]'s point lookup). Deterministic for a given
    * corpus; see Clustering for the 100 TB shape. */
  def clusterNodes(
      k: Int,
      assignRounds: Int = 3,
      portable: Boolean = false): graft.ml.Clustering.KMeansResult =
    graft.ml.Clustering.kmeans(
      nodeDb, idCol = "id", vecCol = "embedding",
      k = k, assignRounds = assignRounds, portable = portable)

  /** Top-`limit` entities (nodes and edges pooled) by cosine to `query`
    * (`entities_by_similarity`, vectorised_graph.rs:96). */
  def entitiesBySimilarity(
      query: String,
      limit: Int,
      window: Option[(Long, Long)] = None): VectorSelection = {
    val n = scored(nodeDb, query, window)
      .select(col("id"), col("score"), lit("node").as("kind"), lit(null).cast("long").as("src"), lit(null).cast("long").as("dst"))
    val e = scored(edgeDb, query, window)
      .select(col("src").cast("long").as("id"), col("score"), lit("edge").as("kind"), col("src"), col("dst"))
    val top = n
      .unionByName(e)
      .orderBy(col("score").desc, col("kind"), col("id"), col("dst"))
      .limit(limit)
      .localCheckpoint(true)
    VectorSelection(
      this,
      top.filter(col("kind") === "node").select(col("id"), col("score")),
      top.filter(col("kind") === "edge").select(col("src"), col("dst"), col("score")))
  }

  /** Top-`limit` nodes by cosine (`nodes_by_similarity`). */
  def nodesBySimilarity(
      query: String,
      limit: Int,
      window: Option[(Long, Long)] = None): VectorSelection =
    VectorSelection(
      this,
      scored(nodeDb, query, window)
        .orderBy(col("score").desc, col("id"))
        .limit(limit)
        .select(col("id"), col("score"))
        .localCheckpoint(true),
      emptyEdgeSel(edgeDb))

  /** Top-`limit` edges by cosine (`edges_by_similarity`). */
  def edgesBySimilarity(
      query: String,
      limit: Int,
      window: Option[(Long, Long)] = None): VectorSelection =
    VectorSelection(
      this,
      emptyNodeSel(nodeDb),
      scored(edgeDb, query, window)
        .orderBy(col("score").desc, col("src"), col("dst"))
        .limit(limit)
        .select(col("src"), col("dst"), col("score"))
        .localCheckpoint(true))
}

object VectorisedGraph {
  private[vectors] def emptyNodeSel(nodeDb: DataFrame): DataFrame =
    nodeDb.select(col("id"), lit(0.0).as("score")).limit(0)
  private[vectors] def emptyEdgeSel(edgeDb: DataFrame): DataFrame =
    edgeDb.select(col("src"), col("dst"), lit(0.0).as("score")).limit(0)
}

/**
 * A selection of scored nodes `(id, score)` and edges `(src, dst, score)`
 * that can grow along the graph (vector_selection.rs). Selections are
 * BOUNDED (seeded and grown by top-k ops), so the frames stay small; every
 * growth step is a distributed join against the vector DBs.
 */
final case class VectorSelection(
    vg: VectorisedGraph,
    nodes: DataFrame,
    edges: DataFrame) {

  private def spark = vg.nodeDb.sparkSession

  /** Documents of the selection with scores (get_documents_with_scores). */
  def documents: DataFrame = {
    val n = vg.nodeDb
      .join(nodes.select("id", "score"), Seq("id"))
      .select(col("doc"), col("score"))
    val e = vg.edgeDb
      .join(edges.select("src", "dst", "score"), Seq("src", "dst"))
      .select(col("doc"), col("score"))
    n.unionByName(e)
  }

  /** Add explicit nodes with score 0 (add_nodes, vector_selection.rs:174). */
  def addNodes(ids: Seq[Long]): VectorSelection = {
    val session = spark
    import session.implicits._
    val add = ids.toDF("id")
      .join(vg.nodeDb.select("id"), Seq("id"), "left_semi")
      .select(col("id"), lit(0.0).as("score"))
    copy(nodes = dedupNodes(nodes.unionByName(add)))
  }

  /** Add explicit edges with score 0 (add_edges). */
  def addEdges(pairs: Seq[(Long, Long)]): VectorSelection = {
    val session = spark
    import session.implicits._
    val add = pairs.toDF("src", "dst")
      .join(vg.edgeDb.select("src", "dst"), Seq("src", "dst"), "left_semi")
      .select(col("src"), col("dst"), lit(0.0).as("score"))
    copy(edges = dedupEdges(edges.unionByName(add)))
  }

  /** Union with another selection, keeping the max score per entity
    * (append, vector_selection.rs:203). */
  def append(other: VectorSelection): VectorSelection =
    copy(
      nodes = dedupNodes(nodes.unionByName(other.nodes)),
      edges = dedupEdges(edges.unionByName(other.edges)))

  /** Add ALL entities within `hops` hops of the selection (score 0),
    * window-filtered (expand, vector_selection.rs:218). */
  def expand(hops: Int, window: Option[(Long, Long)] = None): VectorSelection = {
    var sel = this
    for (_ <- 1 to hops) {
      val (candN, candE) = sel.frontier(window)
      sel = sel.copy(
        nodes = dedupNodes(sel.nodes.unionByName(candN.select(col("id"), lit(0.0).as("score")))),
        edges = dedupEdges(sel.edges.unionByName(candE.select(col("src"), col("dst"), lit(0.0).as("score")))))
    }
    sel.checkpointed
  }

  /** Grow by the `limit` most-query-similar adjacent entities; loop until
    * `limit` added or the frontier is dry
    * (expand_entities_by_similarity, vector_selection.rs:246). */
  def expandEntitiesBySimilarity(
      query: String,
      limit: Int,
      window: Option[(Long, Long)] = None): VectorSelection =
    expandBySimilarity(query, limit, window, addNodesPath = true, addEdgesPath = true)

  def expandNodesBySimilarity(
      query: String,
      limit: Int,
      window: Option[(Long, Long)] = None): VectorSelection =
    expandBySimilarity(query, limit, window, addNodesPath = true, addEdgesPath = false)

  def expandEdgesBySimilarity(
      query: String,
      limit: Int,
      window: Option[(Long, Long)] = None): VectorSelection =
    expandBySimilarity(query, limit, window, addNodesPath = false, addEdgesPath = true)

  // ---- internals ----

  /** 1-hop unselected neighbourhood: nodes touching a selected entity and
    * edges incident to a selected node, within the window. */
  private def frontier(window: Option[(Long, Long)]): (DataFrame, DataFrame) = {
    val e = window match {
      case Some((s, en)) => vg.graph.edges.filter(col("ts") >= s && col("ts") < en)
      case None          => vg.graph.edges
    }
    val pairs = e.select("src", "dst").distinct()
    val selN = nodes.select("id")
    val touchingSel = pairs
      .join(selN.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .unionByName(pairs.join(selN.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi"))
      .distinct()
    val fromEdges = edges.select("src", "dst")
    val candE = touchingSel
      .unionByName(fromEdges)
      .distinct()
      .join(edges.select("src", "dst"), Seq("src", "dst"), "left_anti")
    val endpoints = touchingSel.select(col("src").as("id"))
      .unionByName(touchingSel.select(col("dst").as("id")))
      .unionByName(fromEdges.select(col("src").as("id")))
      .unionByName(fromEdges.select(col("dst").as("id")))
      .distinct()
    val candN = endpoints.join(selN, Seq("id"), "left_anti")
    (candN, candE)
  }

  private def expandBySimilarity(
      query: String,
      limit: Int,
      window: Option[(Long, Long)],
      addNodesPath: Boolean,
      addEdgesPath: Boolean): VectorSelection = {
    var sel = this.checkpointed
    var remaining = limit
    var dry = false
    while (remaining > 0 && !dry) {
      val (candN, candE) = sel.frontier(window)
      val qe = broadcast(vg.queryEmbedding(query))
      val scoredN =
        if (addNodesPath)
          vg.nodeDb.join(candN, Seq("id"), "left_semi")
            .crossJoin(qe)
            .select(
              col("id"), lit(null).cast("long").as("esrc"), lit(null).cast("long").as("edst"),
              Similarity.cosine("embedding", "qe").as("score"), lit("node").as("kind"))
        else emptyScored
      val scoredE =
        if (addEdgesPath)
          vg.edgeDb.join(candE, Seq("src", "dst"), "left_semi")
            .crossJoin(qe)
            .select(
              col("src").as("id"), col("src").as("esrc"), col("dst").as("edst"),
              Similarity.cosine("embedding", "qe").as("score"), lit("edge").as("kind"))
        else emptyScored
      val batch = scoredN.unionByName(scoredE)
        .orderBy(col("score").desc, col("kind"), col("id"), col("edst"))
        .limit(remaining)
        .localCheckpoint(true)
      val added = batch.count()
      if (added == 0) dry = true
      else {
        remaining -= added.toInt
        val prev = sel
        sel = sel.copy(
          nodes = dedupNodes(sel.nodes.unionByName(
            batch.filter(col("kind") === "node").select(col("id"), col("score")))),
          edges = dedupEdges(sel.edges.unionByName(
            batch.filter(col("kind") === "edge")
              .select(col("esrc").as("src"), col("edst").as("dst"), col("score"))))).checkpointed
        // the new selection is materialized: the one it replaces is freed
        Pin.release(prev.nodes, prev.edges)
      }
      Pin.release(batch)
    }
    sel
  }

  private def emptyScored: DataFrame =
    VectorisedGraph.emptyNodeSel(vg.nodeDb)
      .select(
        col("id"), lit(null).cast("long").as("esrc"), lit(null).cast("long").as("edst"),
        col("score"), lit("x").as("kind"))

  private def checkpointed: VectorSelection =
    copy(nodes = nodes.localCheckpoint(true), edges = edges.localCheckpoint(true))

  private def dedupNodes(df: DataFrame): DataFrame =
    df.groupBy("id").agg(max(col("score")).as("score"))

  private def dedupEdges(df: DataFrame): DataFrame =
    df.groupBy("src", "dst").agg(max(col("score")).as("score"))
}
