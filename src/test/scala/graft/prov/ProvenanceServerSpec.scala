package graft.prov

import java.net.{HttpURLConnection, URI}
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The live provenance server must serve the execution index, the
  * interactive page, and the JSON APIs straight off the parquet store —
  * and reflect store growth on the next request (the "live" property a
  * static export can't have).
  */
class ProvenanceServerSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def get(port: Int, path: String): (Int, String) = {
    val conn = new URI(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(5000)
    conn.setReadTimeout(30000)
    val code = conn.getResponseCode
    val is = if (code < 400) conn.getInputStream else conn.getErrorStream
    val body = new String(is.readAllBytes(), "UTF-8")
    is.close()
    (code, body)
  }

  test("serves index, execution page, graph and lineage APIs off the store") {
    val spark2 = spark
    import spark2.implicits._
    val store = Files.createTempDirectory("provserver").toString
    val s = ProvSession.create(spark, "server-app", store)
    val src = s.parallelize(Seq(1, 2, 3))
    val mapped = src.map(_ * 10)
    assert(mapped.collect().sorted == Seq(10, 20, 30))
    s.close()

    val server = new ProvenanceServer(spark, store)
    val port = server.start()
    try {
      val (ic, index) = get(port, "/")
      assert(ic == 200 && index.contains(s.executionId) &&
        index.contains("server-app"))

      val (pc, page) = get(port, s"/execution/${s.executionId}")
      assert(pc == 200 && page.contains("<!DOCTYPE html>") &&
        page.contains("taskCanvas"))

      val (ec, execs) = get(port, "/api/executions")
      assert(ec == 200 && execs.contains(s.executionId))

      val (gc, graph) = get(port, s"/api/graph/${s.executionId}")
      assert(gc == 200 && graph.contains("\"nodes\"") &&
        graph.contains("\"links\""))
      // all 6 elements (3 src + 3 mapped) and the 3 lineage edges
      assert("\"id\"".r.findAllIn(graph).size == 6, graph)
      assert("\"source\"".r.findAllIn(graph).size == 3, graph)

      // lineage of a mapped element reaches its source element (the
      // backward closure lists ANCESTORS, not the element itself)
      val q = new ProvenanceQueries(spark, store)
      val row = q.producedBy(s.executionId, mapped.task.id).collect().head
      val mappedEl = row.getAs[String]("element_id")
      val depEl = row.getAs[scala.collection.Seq[String]]("deps").head
      val (lc, lineage) = get(port, s"/api/lineage/${s.executionId}/$mappedEl")
      assert(lc == 200 && lineage.contains(depEl), lineage)

      // prospective task DAG (reference TaskAPICtrl.kt:22-36): the two
      // tasks as nodes, the map→parallelize dependency as a link
      val (tc, tgraph) = get(port, s"/api/taskgraph/${s.executionId}")
      assert(tc == 200 && tgraph.contains("\"nodes\"") &&
        tgraph.contains("\"links\""), tgraph)
      assert(tgraph.contains(src.task.id) && tgraph.contains(mapped.task.id))
      assert("\"kind\":\"task\"".r.findAllIn(tgraph).size == 2, tgraph)
      assert("\"kind\":\"edge\"".r.findAllIn(tgraph).size == 1, tgraph)

      assert(get(port, "/nope")._1 == 404)

      // LIVE: a second execution appended to the same store shows up
      // on the next index request, no restart
      val s2 = ProvSession.create(spark, "server-app-2", store)
      s2.parallelize(Seq(9)).map(_ + 1).collect()
      s2.close()
      val (_, index2) = get(port, "/")
      assert(index2.contains(s2.executionId) && index2.contains(s.executionId))

      // no artifact store attached → the file surface 404s cleanly
      assert(get(port, s"/api/files/${s.executionId}")._1 == 404)
    } finally server.stop()
  }

  test("serves the execution file tree and committed file bytes") {
    import graft.prov.filegroup._
    import graft.prov.filegroup.FileGroupOps._
    import graft.prov.filegroup.ContentAddressedStore._
    val inputs = Files.createTempDirectory("srv-in")
    Files.writeString(inputs.resolve("out.txt"), "payload bytes\n")
    Files.createDirectories(inputs.resolve("sub"))
    Files.writeString(inputs.resolve("sub/nested.txt"), "nested\n")
    val store = Files.createTempDirectory("srv-prov").toString
    val cas = new ContentAddressedStore(
      Files.createTempDirectory("srv-repo").toString)

    val s = ProvSession.create(spark, "server-files", store)
    fileGroup(s, FileGroupTemplate.ofFiles(
      Seq(inputs.resolve("out.txt").toString), "grp"))
      .persistFileGroupInStore(cas)
    s.close()

    val server = new ProvenanceServer(spark, store, artifactStore = Some(cas))
    val port = server.start()
    try {
      // tree: the persisted file listed under its element
      // (reference DataElementAPICtrl.kt:235-277)
      val (fc, files) = get(port, s"/api/files/${s.executionId}")
      assert(fc == 200 && files.contains("\"path\":\"out.txt\""), files)
      val elementId = spark.read.parquet(s"$store/file_group_references")
        .filter(org.apache.spark.sql.functions.col("execution_id") ===
          s.executionId)
        .select("element_id").head().getString(0)
      assert(files.contains(elementId))

      // download: exact committed bytes (DataElementAPICtrl.kt:279-314)
      val (bc, body) =
        get(port, s"/api/file/${s.executionId}/$elementId/out.txt")
      assert(bc == 200 && body == "payload bytes\n")

      // missing path and unknown execution → 404, not 500
      assert(get(port,
        s"/api/file/${s.executionId}/$elementId/absent.txt")._1 == 404)
      assert(get(port, "/api/files/no-such-exec")._2 == "[]")
      assert(get(port, "/api/file/no-such-exec/el/x")._1 == 404)
    } finally server.stop()
  }

  test("/api/lineage is fenced by spark.graft.maxExportGraphRows: an over-threshold closure answers 500 naming the conf") {
    val spark2 = spark
    import spark2.implicits._
    val store = Files.createTempDirectory("provlinfence").toString
    val s = ProvSession.create(spark, "lineage-fence", store)
    val last = s.parallelize(Seq(1, 2)).map(_ + 1).map(_ * 2).map(_ - 1)
    assert(last.count() == 2)
    s.close()
    val el = new ProvenanceQueries(spark, store)
      .producedBy(s.executionId, last.task.id).head().getAs[String]("element_id")
    val server = new ProvenanceServer(spark, store)
    val port = server.start()
    try {
      // 3 ancestors: served under the default fence
      val (ok, body) = get(port, s"/api/lineage/${s.executionId}/$el")
      assert(ok == 200 && "\"hop\"".r.findAllIn(body).size == 3, body)
      spark.conf.set("spark.graft.maxExportGraphRows", "2")
      try {
        val (code, err) = get(port, s"/api/lineage/${s.executionId}/$el")
        assert(code == 500 && err.contains("spark.graft.maxExportGraphRows"),
          err)
      } finally spark.conf.unset("spark.graft.maxExportGraphRows")
    } finally server.stop()
  }

  test("jsonGraph is FENCED: an over-threshold element graph fails loudly at the named conf under default-style enforcement (round-16 audit)") {
    val spark2 = spark
    import spark2.implicits._
    val store = Files.createTempDirectory("provfence").toString
    val s = ProvSession.create(spark, "fence-app", store)
    s.parallelize(Seq(1, 2, 3, 4)).map(_ * 2).collect()
    s.close()
    val q = new ProvenanceQueries(spark, store)
    // under the default fence (1M) the export succeeds
    assert(q.jsonGraph(s.executionId).contains("\"nodes\""))
    // past the fence it fails LOUDLY naming the conf and the remedies
    spark.conf.set("spark.graft.maxExportGraphRows", "3")
    try {
      val e = intercept[IllegalStateException] {
        q.jsonGraph(s.executionId)
      }
      assert(e.getMessage.contains("maxExportGraphRows") &&
        e.getMessage.contains("exportHtml"))
    } finally spark.conf.unset("spark.graft.maxExportGraphRows")
    // the capped HTML lens stays available at any scale — and its
    // edge pull is bounded by the page's own cap (the fixed pull)
    assert(q.htmlPage(s.executionId, maxElements = 2)
      .contains("<!DOCTYPE html>"))
  }
}
