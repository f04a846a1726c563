package graft.server

import graft.SparkSpec

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

/**
 * End-to-end served-surface test over real HTTP (JDK HttpClient against
 * the in-process server): catalog discovery, WAL ingest, compaction, the
 * JSON wire format, Cypher-lite, truncation, and error envelopes.
 */
class QueryServerSpec extends SparkSpec {

  private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private lazy val http = HttpClient.newHttpClient()

  private def post(port: Int, path: String, body: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val r = http.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def get(port: Int, path: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build()
    val r = http.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private val edgesJson =
    """[{"src":1,"dst":2,"ts":10},{"src":2,"dst":3,"ts":20},
      | {"src":3,"dst":4,"ts":30},{"src":4,"dst":1,"ts":40,"layer":"late"}]""".stripMargin

  test("ingest, catalog, query, cypher, compact — full HTTP round trip") {
    val work = Files.createTempDirectory("graft-server").toString
    val srv = new QueryServer(spark, work)
    val port = srv.start()
    try {
      // create-on-first-write under a namespace
      val (c1, b1) = post(port, "/graphs/ns1/social", edgesJson)
      assert(c1 == 200, b1)
      assert(mapper.readTree(b1).get("batch").asLong == 0L)
      assert(mapper.readTree(b1).get("rows").asLong == 4L)

      // catalog sees it with its namespace split out
      val (c2, b2) = get(port, "/graphs")
      assert(c2 == 200)
      val cat = mapper.readTree(b2)
      assert(cat.size == 1)
      assert(cat.get(0).get("namespace").asText == "ns1")
      assert(cat.get(0).get("name").asText == "social")
      assert(cat.get(0).get("committedBatches").asInt == 1)

      // wire-format query over the served graph
      val (c3, b3) = post(port, "/query/ns1/social",
        """{"view":[{"op":"window","start":0,"end":35}],
          | "select":{"target":"edges","sort":[{"column":"ts","desc":false}]}}""".stripMargin)
      assert(c3 == 200, b3)
      val q = mapper.readTree(b3)
      assert(q.get("rowCount").asInt == 3)
      assert(!q.get("truncated").asBoolean)
      assert(q.get("rows").get(0).get("ts").asLong == 10L)

      // algorithm clause through the server
      val (c4, b4) = post(port, "/query/ns1/social",
        """{"algorithm":{"name":"connected_components"}}""")
      assert(c4 == 200, b4)
      assert(mapper.readTree(b4).get("rowCount").asInt == 4)

      // cypher-lite through the server
      val (c5, b5) = post(port, "/cypher/ns1/social",
        "MATCH ()-[e:late]->() RETURN COUNT(*) AS n")
      assert(c5 == 200, b5)
      assert(mapper.readTree(b5).get("rows").get(0).get("n").asLong == 1L)

      // second WAL batch is visible without compaction
      val (c6, _) = post(port, "/graphs/ns1/social", """[{"src":5,"dst":1,"ts":50}]""")
      assert(c6 == 200)
      val (_, b7) = post(port, "/cypher/ns1/social", "MATCH ()-[e]->() RETURN COUNT(*) AS n")
      assert(mapper.readTree(b7).get("rows").get(0).get("n").asLong == 5L)

      // compact folds the WAL into a snapshot; queries unchanged
      val (c8, b8) = post(port, "/graphs/ns1/social/compact", "")
      assert(c8 == 200, b8)
      assert(mapper.readTree(b8).get("snapshot").asLong == 0L)
      val (_, b9) = post(port, "/cypher/ns1/social", "MATCH ()-[e]->() RETURN COUNT(*) AS n")
      assert(mapper.readTree(b9).get("rows").get(0).get("n").asLong == 5L)
    } finally srv.stop()
  }

  test("served algorithm requests free every block they pinned") {
    val work = Files.createTempDirectory("graft-server-pins").toString
    val srv = new QueryServer(spark, work)
    val port = srv.start()
    try {
      post(port, "/graphs/g", edgesJson)
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      for (algo <- Seq("pagerank", "eigenvector")) {
        val (c, b) = post(port, "/query/g", s"""{"algorithm":{"name":"$algo","params":{"iterCount":3}}}""")
        assert(c == 200, b)
        assert(mapper.readTree(b).get("rowCount").asInt == 4, b)
      }
      val left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      assert(left.isEmpty, s"served requests left pinned blocks $left")
    } finally srv.stop()
  }

  test("error envelopes: 404 unknown graph, 400 bad documents, path traversal") {
    val work = Files.createTempDirectory("graft-server-err").toString
    val srv = new QueryServer(spark, work)
    val port = srv.start()
    try {
      val (c1, b1) = post(port, "/query/nope", """{"view":[]}""")
      assert(c1 == 404 && mapper.readTree(b1).hasNonNull("error"))

      post(port, "/graphs/g", edgesJson)
      val (c2, b2) = post(port, "/query/g", """{"view":[{"op":"teleport"}]}""")
      assert(c2 == 400 && mapper.readTree(b2).get("error").asText.nonEmpty)

      val (c3, _) = post(port, "/graphs/g", """{"not":"an array"}""")
      assert(c3 == 400)

      val (c4, _) = post(port, "/query/..%2F..%2Fetc", """{"view":[]}""")
      assert(c4 == 404)

      val (c5, _) = post(port, "/cypher/g", "MATCH (")
      assert(c5 == 400 || c5 == 500) // loud, enveloped, never a hang
    } finally srv.stop()
  }

  test("row cap: truncated flag set at maxRows and paging walks past it") {
    val work = Files.createTempDirectory("graft-server-cap").toString
    val srv = new QueryServer(spark, work, maxRows = 2)
    val port = srv.start()
    try {
      post(port, "/graphs/g", edgesJson)
      val (_, b) = post(port, "/query/g", """{"view":[],"select":{"target":"edges"}}""")
      val r = mapper.readTree(b)
      assert(r.get("rowCount").asInt == 2 && r.get("truncated").asBoolean)
      // the wire format's own paging fetches the tail
      val (_, b2) = post(port, "/query/g",
        """{"view":[],"select":{"target":"edges","sort":[{"column":"ts","desc":false}],
          | "offset":2,"limit":2}}""".stripMargin)
      val r2 = mapper.readTree(b2)
      assert(r2.get("rowCount").asInt == 2 && !r2.get("truncated").asBoolean)
    } finally srv.stop()
  }

  test("auth hook: bearer provider gates every route before the body is read; noop allows all") {
    val work = Files.createTempDirectory("graft-server-auth").toString
    val srv = new QueryServer(spark, work, auth = new BearerTokenAuth("s3cret"))
    val port = srv.start()
    try {
      // no token → 401 with an error envelope, on every route
      val (c1, b1) = get(port, "/graphs")
      assert(c1 == 401 && mapper.readTree(b1).get("error").asText.contains("missing"))
      val (c2, _) = post(port, "/graphs/g", edgesJson)
      assert(c2 == 401)
      val (c3, _) = post(port, "/query/g", """{"view":[]}""")
      assert(c3 == 401)
      // wrong token → 401; nothing was created by the denied ingest
      val badReq = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/graphs"))
        .header("Authorization", "Bearer wrong").GET().build()
      assert(http.send(badReq, HttpResponse.BodyHandlers.ofString()).statusCode() == 401)
      // right token → full round trip
      def authed(path: String, body: String): (Int, String) = {
        val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
          .header("Authorization", "Bearer s3cret")
          .POST(HttpRequest.BodyPublishers.ofString(body)).build()
        val r = http.send(req, HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      val (c4, b4) = authed("/graphs/g", edgesJson)
      assert(c4 == 200, b4)
      val (c5, b5) = authed("/cypher/g", "MATCH ()-[e]->() RETURN COUNT(*) AS n")
      assert(c5 == 200 && mapper.readTree(b5).get("rows").get(0).get("n").asLong == 4L)
      // the denied ingest left no graph behind: catalog holds exactly one
      val okCat = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/graphs"))
        .header("Authorization", "Bearer s3cret").GET().build()
      val cat = http.send(okCat, HttpResponse.BodyHandlers.ofString())
      assert(mapper.readTree(cat.body()).size == 1)
    } finally srv.stop()
  }

  test("concurrent queries: parallel requests across routes all complete correctly") {
    import java.util.concurrent.{Callable, Executors, TimeUnit}
    val work = Files.createTempDirectory("graft-server-conc").toString
    val srv = new QueryServer(spark, work)
    val port = srv.start()
    try {
      post(port, "/graphs/g", edgesJson)
      // 12 in-flight requests against a 4-thread handler pool: queries that
      // run Spark jobs, catalog reads, and expected-error requests all
      // interleave; every response must be complete and correct (the
      // server shares one SparkSession — plans are concurrency-safe, and
      // the error envelope must never leak across exchanges).
      val pool = Executors.newFixedThreadPool(12)
      try {
        val tasks = new java.util.ArrayList[Callable[(String, Int, String)]]()
        (0 until 4).foreach { _ =>
          tasks.add(() => { val (c, b) = post(port, "/cypher/g",
            "MATCH ()-[e]->() RETURN COUNT(*) AS n"); ("cypher", c, b) })
          tasks.add(() => { val (c, b) = post(port, "/query/g",
            """{"view":[],"select":{"target":"edges"}}"""); ("query", c, b) })
          tasks.add(() => { val (c, b) = get(port, "/graphs"); ("catalog", c, b) })
        }
        val results = pool.invokeAll(tasks, 120, TimeUnit.SECONDS)
        import scala.jdk.CollectionConverters._
        results.asScala.foreach { f =>
          val (kind, code, body) = f.get()
          assert(code == 200, s"$kind: $body")
          kind match {
            case "cypher" =>
              assert(mapper.readTree(body).get("rows").get(0).get("n").asLong == 4L, body)
            case "query" =>
              assert(mapper.readTree(body).get("rowCount").asInt == 4, body)
            case _ =>
              assert(mapper.readTree(body).size == 1, body)
          }
        }
      } finally pool.shutdownNow()
    } finally srv.stop()
  }

  test("GraphClient.sendGraph exports a graph (export_to analog) and queries round-trip") {
    import graft.graph.TemporalGraph
    val work = Files.createTempDirectory("graft-server-client").toString
    val srv = new QueryServer(spark, work)
    val port = srv.start()
    val base = s"http://127.0.0.1:$port"
    try {
      assert(GraphClient.isHealthy(base))
      assert(!GraphClient.isHealthy(s"http://127.0.0.1:1")) // nothing there
      val g = TemporalGraph.fromTriples(spark,
        Seq((1L, 2L, 10L), (2L, 3L, 20L), (3L, 4L, 30L), (4L, 1L, 40L), (1L, 3L, 50L)))
      // batchSize 2 → 3 WAL commits, then compaction folds them
      val sent = GraphClient.sendGraph(g, base, "ns2/exported", batchSize = 2)
      assert(sent == 5L)
      val (_, cat) = get(port, "/graphs")
      val entry = {
        val it = mapper.readTree(cat).elements()
        var found: com.fasterxml.jackson.databind.JsonNode = null
        while (it.hasNext) { val n = it.next(); if (n.get("name").asText == "exported") found = n }
        found
      }
      assert(entry != null && entry.get("namespace").asText == "ns2")
      assert(entry.hasNonNull("headSnapshot")) // compaction advanced HEAD
      // the served copy answers the wire format with every shipped edge
      val q = GraphClient.query(base, "ns2/exported",
        """{"view":[],"select":{"target":"edges","sort":[{"column":"ts","desc":false}]}}""")
      val res = mapper.readTree(q)
      assert(res.get("rowCount").asInt == 5, q)
      assert(res.get("rows").get(0).get("src").asLong == 1L)
      // and the Cypher surface sees the same graph
      val c = GraphClient.cypher(base, "ns2/exported",
        "MATCH (a)-[e]->(b) WHERE e.ts >= 30 RETURN a, b ORDER BY b LIMIT 10")
      assert(mapper.readTree(c).get("rowCount").asInt == 3, c)
    } finally srv.stop()
  }
}
