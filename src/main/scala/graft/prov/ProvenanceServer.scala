package graft.prov

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import ProvenanceHtml.{esc, jstr}

/** Live provenance web server — the serving half of the reference's web
  * UI (SAMbA/WebApplication: a Spring app over Cassandra,
  * PagesCtrl.kt:13-73 + the API controllers). Here the same pages and
  * APIs are served straight off the parquet provenance store by the
  * JDK's built-in `HttpServer` — zero new dependencies, start/stop from
  * any driver or notebook, reading THROUGH [[ProvenanceQueries]] so
  * every response reflects the store as of the request (a run appending
  * elements shows up on refresh — this is what "live" adds over
  * [[ProvenanceQueries.exportHtml]]'s static snapshot).
  *
  * Endpoints (reference controller in parens):
  *   - `/` — execution index (ExecutionAPICtrl/PagesCtrl)
  *   - `/execution/<id>` — the interactive DAG + lineage page
  *   - `/api/executions` — executions as JSON
  *   - `/api/graph/<id>` — full element graph `{nodes, links}` (DataElementAPICtrl)
  *   - `/api/lineage/<id>/<elementId>` — backward closure of one element
  *   - `/api/taskgraph/<id>` — prospective task DAG (TaskAPICtrl.kt:22-36)
  *   - `/api/files/<id>` — execution file tree across persisted
  *     FileGroups (DataElementAPICtrl.kt:235-277); needs `artifactStore`
  *   - `/api/file/<id>/<elementId>/<path>` — raw file bytes at the
  *     committed version (DataElementAPICtrl.kt:279-314)
  *
  * Scale note: requests run driver-side Spark jobs over the store —
  * the provenance store is orders of magnitude smaller than the data
  * (projected values only), and the page layer caps elements; this is
  * an operator console, not a serving tier. File downloads stream one
  * object's bytes from the content-addressed store — no Spark job.
  */
final class ProvenanceServer(spark: SparkSession, storeDir: String,
                             port: Int = 0,
                             bindAddress: java.net.InetAddress =
                               java.net.InetAddress.getLoopbackAddress,
                             artifactStore: Option[
                               graft.prov.filegroup.ContentAddressedStore] =
                               None) {

  private val q = new ProvenanceQueries(spark, storeDir)
  private var server: HttpServer = _

  /** Start serving; returns the bound port (ephemeral when port=0).
    * Binds LOOPBACK by default — element values are real row data and
    * there is no auth layer; exposing beyond the host (pass an explicit
    * `bindAddress`) is an operator's deliberate choice, e.g. behind an
    * authenticating proxy.
    */
  def start(): Int = synchronized {
    require(server == null, "server already started")
    server = HttpServer.create(new InetSocketAddress(bindAddress, port), 0)
    server.createContext("/", handler)
    server.setExecutor(null) // serial — an operator console, not a tier
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = synchronized {
    if (server != null) { server.stop(0); server = null }
  }

  private def handler(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    try {
      path.split("/").filter(_.nonEmpty).toList match {
        case Nil =>
          respond(ex, 200, "text/html", indexPage())
        case "execution" :: id :: Nil =>
          respond(ex, 200, "text/html", q.htmlPage(id))
        case "api" :: "executions" :: Nil =>
          respond(ex, 200, "application/json", executionsJson())
        case "api" :: "graph" :: id :: Nil =>
          respond(ex, 200, "application/json", q.jsonGraph(id))
        case "api" :: "lineage" :: id :: el :: Nil =>
          respond(ex, 200, "application/json", lineageJson(id, el))
        case "api" :: "taskgraph" :: id :: Nil =>
          respond(ex, 200, "application/json", taskGraphJson(id))
        case "api" :: "files" :: id :: Nil =>
          artifactStore match {
            case Some(cas) => respond(ex, 200, "application/json",
              filesJson(cas, id))
            case None => respond(ex, 404, "text/plain",
              "no artifact store attached to this server")
          }
        case "api" :: "file" :: id :: el :: rest if rest.nonEmpty =>
          artifactStore match {
            case Some(cas) =>
              try respondBytes(ex, 200, "application/octet-stream",
                cas.readFile(id, el, rest.mkString("/")))
              catch {
                case _: NoSuchElementException |
                     _: java.nio.file.NoSuchFileException =>
                  respond(ex, 404, "text/plain", s"no such file: $path")
              }
            case None => respond(ex, 404, "text/plain",
              "no artifact store attached to this server")
          }
        case _ =>
          respond(ex, 404, "text/plain", s"no such page: $path")
      }
    } catch {
      // NonFatal only — a VM error (OOM, stack overflow) must propagate,
      // not be swallowed into a 500; getMessage can be null (NPE etc.),
      // so fall back to toString, and keep a server-side trace
      case scala.util.control.NonFatal(e) =>
        e.printStackTrace()
        val msg = Option(e.getMessage).getOrElse(e.toString)
        respond(ex, 500, "text/plain", s"error: $msg")
    }
  }

  private def respond(ex: HttpExchange, code: Int, ctype: String,
                      body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", s"$ctype; charset=utf-8")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def respondBytes(ex: HttpExchange, code: Int, ctype: String,
                           bytes: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", ctype)
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  /** Execution file tree: every (element, path) across the execution's
    * persisted FileGroup manifests — the shape the reference web app
    * renders as a tree (DataElementAPICtrl.kt:235-277). Downloads go to
    * `/api/file/<id>/<element_id>/<path>`.
    */
  private def filesJson(cas: graft.prov.filegroup.ContentAddressedStore,
                        executionId: String): String = {
    val entries = cas.fileTree(executionId).map { e =>
      val (el, p) = e.span(_ != '/')
      s"""{"element_id":${jstr(el)},"path":${jstr(p.drop(1))}}"""
    }
    s"[${entries.mkString(",")}]"
  }

  private def indexPage(): String = {
    val rows = q.executions
      .select(col("execution_id"), col("app_name"), col("start_time"))
      .orderBy(col("start_time").desc).collect()
      .map { r =>
        val id = r.getString(0)
        s"""<li><a href="/execution/${esc(id)}">${esc(id)}</a> — ${esc(String.valueOf(r.get(1)))} (${esc(String.valueOf(r.get(2)))})</li>"""
      }
    s"""<!DOCTYPE html><html><head><title>graft provenance</title></head>
       |<body><h1>Executions</h1><ul>${rows.mkString("\n")}</ul>
       |<p>APIs: /api/executions, /api/graph/&lt;id&gt;, /api/lineage/&lt;id&gt;/&lt;elementId&gt;, /api/taskgraph/&lt;id&gt;, /api/files/&lt;id&gt;, /api/file/&lt;id&gt;/&lt;elementId&gt;/&lt;path&gt;</p>
       |</body></html>""".stripMargin
  }

  private def executionsJson(): String = {
    val rows = q.executions.toJSON.collect()
    s"[${rows.mkString(",")}]"
  }

  /** Backward closure as a JSON array, pulled through the same
    * `spark.graft.maxExportGraphRows` fence as `/api/graph`.
    */
  private def lineageJson(executionId: String, elementId: String): String = {
    val rows = q.fenced(executionId,
      q.lineageOf(executionId, elementId).toJSON, s"lineage of $elementId")
    s"[${rows.mkString(",")}]"
  }

  /** Prospective task DAG as `{nodes, links}` — the reference serves the
    * same shape from TaskAPICtrl.kt:22-36; rows come straight from
    * [[ProvenanceQueries.taskGraph]] (kind=task → nodes, kind=edge →
    * links).
    */
  private def taskGraphJson(executionId: String): String = {
    val rows = q.taskGraph(executionId).toJSON.collect()
    val (nodes, links) = rows.partition(_.contains(""""kind":"task""""))
    s"""{"nodes":[${nodes.mkString(",")}],"links":[${links.mkString(",")}]}"""
  }
}
