package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.bsp.Pin
import graft.graph.{CypherLite, GraphQuery}
import graft.sources.GraphStore

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.util.control.NonFatal

/**
 * Served query surface — the Spark analog of the reference's GraphQL HTTP
 * server (raphtory-graphql/src/server.rs, model/graph/graph.rs): a work
 * dir of namespaced graph collections, discovery, mutation (edge ingest +
 * compaction), and query execution over the JSON wire format
 * ([[GraphQuery]] — views, predicates, paging, algorithm plugins) and the
 * Cypher-lite MATCH frontend ([[CypherLite]]). Built on the JDK's
 * `com.sun.net.httpserver` (in-process, no extra dependency) so the
 * serving story is `spark-submit --class graft.server.QueryServer` — the
 * same shape as the reference's `raphtory server start`.
 *
 * Catalog layout mirrors the reference's namespaces
 * (raphtory-graphql/src/paths.rs — namespaces are work-dir subpaths):
 * every directory under `root` holding a [[GraphStore]] (a `log/` or
 * `snapshots/` child) is a graph; its relative parent path is the
 * namespace.
 *
 * Routes (request/response bodies are JSON; errors are
 * `{"error": msg}` with 4xx/5xx):
 *  - `GET  /graphs`                  — catalog: namespace, name, head
 *    snapshot, committed WAL batches per graph
 *  - `POST /graphs/<path>`           — create/append: body is a JSON array
 *    of edge events `{src, dst, ts, event_id?, layer?}`; WAL-committed via
 *    [[GraphStore.append]] (atomic manifest), so a crashed upload is
 *    invisible to readers
 *  - `POST /graphs/<path>/compact`   — fold the WAL into a bucketed
 *    parquet snapshot and advance HEAD
 *  - `POST /query/<path>`            — run a [[GraphQuery]] wire document
 *    against the graph's current state
 *  - `POST /cypher/<path>`           — run a Cypher-lite MATCH query
 *
 * Results stream through one Catalyst plan; the server materializes at
 * most `maxRows` rows (checked with a limit of `maxRows + 1`, reported via
 * `"truncated": true`) — the wire format's own offset/limit paging is the
 * intended way to walk larger results, exactly like the reference's paged
 * nodes/edges resolvers (nodes.rs:335-455). Rows are rendered by Spark's
 * own JSON encoder (`Dataset.toJSON`), so every column type the engine
 * produces (arrays, maps, decimals, timestamps) serializes consistently;
 * per JSON-lines convention null-valued fields are omitted from a row
 * object.
 *
 * Scale note: the server is a thin control plane — all data movement is
 * the underlying Catalyst plans'. State lives in the GraphStore layout
 * (parquet + atomic manifests), so any number of server instances can
 * serve the same root read-only; writes go through the WAL's idempotent
 * batch commit. Requests are handled on a small pool (queries run Spark
 * jobs; Catalyst plans are concurrency-safe on one session) behind a
 * pluggable [[Auth]] gate — [[NoopAuth]] by default, the reference's
 * auth-noop posture.
 */
final class QueryServer(
    spark: SparkSession,
    root: String,
    port: Int = 0,
    maxRows: Int = 10000,
    auth: Auth = NoopAuth) {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private var server: HttpServer = _

  /** Start listening; returns the bound port (ephemeral when `port` = 0). */
  def start(): Int = synchronized {
    require(server == null, "already started")
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/graphs", exchange(handleGraphs))
    server.createContext("/query", exchange(handleQuery(_, _, cypher = false)))
    server.createContext("/cypher", exchange(handleQuery(_, _, cypher = true)))
    // queries run Spark jobs; a small pool keeps the control plane responsive
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = synchronized {
    if (server != null) { server.stop(0); server = null }
  }

  // ---------- catalog ----------

  /** A directory is a graph iff it holds GraphStore state. */
  private def isGraph(dir: Path): Boolean =
    Files.isDirectory(dir.resolve("log")) || Files.isDirectory(dir.resolve("snapshots"))

  /** All graphs under root as (namespace, name, absolute dir). */
  private def catalog(): Seq[(String, String, Path)] = {
    val base = Paths.get(root)
    if (!Files.isDirectory(base)) return Nil
    val out = Seq.newBuilder[(String, String, Path)]
    def walk(dir: Path): Unit = {
      val children = {
        val s = Files.list(dir)
        try { import scala.jdk.CollectionConverters._; s.iterator().asScala.toList }
        finally s.close()
      }
      children.filter(Files.isDirectory(_)).sortBy(_.getFileName.toString).foreach { c =>
        if (isGraph(c)) {
          val rel = base.relativize(c)
          val ns = Option(rel.getParent).map(_.toString).getOrElse("")
          out += ((ns, rel.getFileName.toString, c))
        } else walk(c)
      }
    }
    walk(base)
    out.result()
  }

  private def storeFor(relPath: String): Option[GraphStore] = {
    val base = Paths.get(root).toAbsolutePath.normalize
    val dir = base.resolve(relPath).normalize
    // keep path traversal inside the work dir
    if (!dir.startsWith(base)) None
    else if (Files.isDirectory(dir) && isGraph(dir)) Some(new GraphStore(dir.toString, spark))
    else None
  }

  // ---------- handlers ----------

  private def handleGraphs(ex: HttpExchange, body: String): (Int, String) =
    (ex.getRequestMethod, tailPath(ex, "/graphs")) match {
      case ("GET", "") =>
        val arr = mapper.createArrayNode()
        catalog().foreach { case (ns, name, dir) =>
          val st = new GraphStore(dir.toString, spark)
          val o = arr.addObject()
          o.put("namespace", ns)
          o.put("name", name)
          o.put("path", if (ns.isEmpty) name else s"$ns/$name")
          st.headSnapshot.foreach(o.put("headSnapshot", _))
          o.put("committedBatches", st.committedBatches.size)
        }
        (200, arr.toString)

      case ("POST", p) if p.endsWith("/compact") =>
        val rel = p.stripSuffix("/compact")
        storeFor(rel) match {
          case None => notFound(rel)
          case Some(st) =>
            val snap = st.compact()
            val o = mapper.createObjectNode().put("path", rel)
            o.put("snapshot", snap)
            (200, o.toString)
        }

      case ("POST", rel) if rel.nonEmpty =>
        val edges =
          try parseEdges(body)
          catch { case NonFatal(e) => return (400, err(s"bad edge payload: ${e.getMessage}")) }
        // create-on-first-write, like the reference's graph upload mutation
        val base = Paths.get(root).toAbsolutePath.normalize
        val dir = base.resolve(rel).normalize
        if (!dir.startsWith(base)) return notFound(rel)
        val st = new GraphStore(dir.toString, spark)
        val batch = st.append(edges)
        val o = mapper.createObjectNode().put("path", rel)
        o.put("batch", batch)
        o.put("rows", edges.count())
        (200, o.toString)

      case _ => (405, err("use GET /graphs, POST /graphs/<path>[, /compact]"))
    }

  private def handleQuery(ex: HttpExchange, body: String, cypher: Boolean): (Int, String) = {
    val prefix = if (cypher) "/cypher" else "/query"
    if (ex.getRequestMethod != "POST") return (405, err(s"use POST $prefix/<path>"))
    val rel = tailPath(ex, prefix)
    storeFor(rel) match {
      case None => notFound(rel)
      case Some(st) =>
        try {
          val g = st.read()
          val df = if (cypher) CypherLite.run(g, body) else GraphQuery.run(g, body)
          // free a pinned page now, not when the ContextCleaner gets to it; a no-op
          // for lazy (Cypher) frames
          try (200, render(df)) finally Pin.release(df)
        } catch {
          case e: IllegalArgumentException => (400, err(e.getMessage))
          case NonFatal(e) => (500, err(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
        }
    }
  }

  // ---------- plumbing ----------

  /** Bounded materialization: limit(maxRows + 1) so truncation is detected
    * without a second job; the plan's own paging handles deep walks. */
  private def render(df: DataFrame): String = {
    val rows = df.limit(maxRows + 1).toJSON.collect()
    val truncated = rows.length > maxRows
    val kept = if (truncated) rows.take(maxRows) else rows
    val sb = new StringBuilder
    sb.append("{\"columns\":")
    sb.append(mapper.valueToTree[com.fasterxml.jackson.databind.JsonNode](df.columns).toString)
    sb.append(",\"rowCount\":").append(kept.length)
    sb.append(",\"truncated\":").append(truncated)
    sb.append(",\"rows\":[")
    var first = true
    kept.foreach { r => if (!first) sb.append(','); sb.append(r); first = false }
    sb.append("]}")
    sb.toString
  }

  private def parseEdges(body: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val node = mapper.readTree(body)
    require(node.isArray, "body must be a JSON array of edge objects")
    val rows = new scala.collection.mutable.ArrayBuffer[Row](node.size)
    var i = 0
    val it = node.elements()
    while (it.hasNext) {
      val e = it.next()
      require(e.hasNonNull("src") && e.hasNonNull("dst") && e.hasNonNull("ts"),
        s"edge $i needs src, dst, ts")
      rows += Row(
        e.get("src").asLong, e.get("dst").asLong, e.get("ts").asLong,
        if (e.hasNonNull("event_id")) e.get("event_id").asLong else i.toLong,
        if (e.hasNonNull("layer")) e.get("layer").asText else "_default")
      i += 1
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1),
      StructType(Seq(
        StructField("src", LongType), StructField("dst", LongType),
        StructField("ts", LongType), StructField("event_id", LongType),
        StructField("layer", StringType))))
  }

  private def tailPath(ex: HttpExchange, prefix: String): String = {
    val p = ex.getRequestURI.getPath.stripPrefix(prefix).stripPrefix("/")
    java.net.URLDecoder.decode(p, "UTF-8").stripSuffix("/")
  }

  private def notFound(rel: String): (Int, String) =
    (404, err(s"no graph at '$rel' (GET /graphs lists the catalog)"))

  private def err(msg: String): String =
    mapper.createObjectNode().put("error", msg).toString

  private def exchange(f: (HttpExchange, String) => (Int, String)) =
    new com.sun.net.httpserver.HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val (code, bodyOut) =
          try {
            // auth gate BEFORE reading the body or touching any handler —
            // a denied request costs one header lookup (see [[Auth]])
            auth.authorize(
              ex.getRequestMethod,
              ex.getRequestURI.getPath,
              Option(ex.getRequestHeaders.getFirst("Authorization"))) match {
              case Left(reason) => (401, err(reason))
              case Right(()) =>
                val in = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
                f(ex, in)
            }
          } catch { case NonFatal(e) => (500, err(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
        val bytes = bodyOut.getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(code, bytes.length.toLong)
        val os = ex.getResponseBody
        try os.write(bytes)
        finally os.close()
      }
    }
}

/** `spark-submit --class graft.server.QueryServer graft.jar <workDir> [port]`
  * — the reference's `raphtory server start` analog. */
object QueryServer {
  def main(args: Array[String]): Unit = {
    val rootDir = args.headOption.getOrElse(sys.error("usage: QueryServer <workDir> [port]"))
    val port = args.lift(1).map(_.toInt).getOrElse(8331)
    val spark = SparkSession
      .builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-query-server")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    val srv = new QueryServer(spark, rootDir, port)
    val bound = srv.start()
    // scalastyle:off println
    println(s"graft query server listening on 127.0.0.1:$bound (work dir: $rootDir)")
    // scalastyle:on println
    Thread.currentThread().join()
  }
}
