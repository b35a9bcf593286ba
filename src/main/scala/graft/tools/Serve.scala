package graft.tools

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.operators.{DocParse, GraftVectorDB}

/** HTTP serving veneer — the analog of the reference's Flask app
  * (app.py: POST /initialize, /embed, /search over one global
  * VectorDatabase), built on the JDK's com.sun.net.httpserver so the
  * library stays dependency-free. The endpoints keep the reference's
  * contract shape:
  *
  *  - POST /initialize {"save_dir": …} → binds the served store
  *    (models are library-side here — the deterministic channel
  *    registry — so the model-selection fields are accepted and
  *    ignored); 400 with {"error": …} on failure;
  *  - POST /embed {"path": …, "is_folder": bool} → vectorize_file /
  *    vectorize_folder: a `.pdf`/`.pptx`/`.docx`/`.html`/… document path
  *    ingests through the REAL-format parsers (DocParse.records), a
  *    standalone image file (`.png`/`.jpg`/`.gif`/`.bmp`) as a single
  *    image record, a `.parquet` path (file
  *    or directory) ingests as a documents-shaped corpus frame
  *    (vectorize_folder's bulk shape at cluster scale); folders sweep
  *    their supported files, one ingest per format; 400 when the
  *    store is uninitialized, the path is missing, or no supported
  *    file is found;
  *  - POST /search {"query": {"text": …, "image": [b64…]},
  *    "search_location": …, "top_n": …} → run_search: text results
  *    from the warm ANN path when the text index is built (exact scan
  *    otherwise), one result list per base64 image query through the
  *    image channel; 400 on missing text, undecodable base64 (the
  *    reference's validation) or a `top_n` that is present but not an
  *    integer in [1, Int.MaxValue] (absent means 5), 500 on execution
  *    errors. The body carries run_search's full return contract:
  *    "response" (the summary through
  *    [[graft.operators.ResponseGen.ExtractiveModel]] — the
  *    reference's LLM call sits behind the same ResponseModel seam)
  *    and "sources" (generate_source_list over the combined
  *    text-then-image rows), plus the per-channel "results" lists;
  *  - GET / → a minimal static frontend driving the three endpoints
  *    (the analog of templates/index.html, app.py:12-14).
  *
  * Result rows are JSON of the serving surfaces' own columns
  * (rnk, sim_r, doc_name, page_num, content_type, content_id,
  * content_raw). Mutating endpoints serialize through the store's
  * writer lease like every other writer; searches are concurrent.
  * `main` binds host:port (default 127.0.0.1:8080 — loopback like the
  * reference's flask dev server; pass a host argument for deliberate
  * exposure) and serves until killed; [[start]] with port 0 is the
  * spec's ephemeral handle. */
object Serve {

  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(8080)
    // loopback by default (the reference's flask dev binding): the
    // endpoints create stores and read server-side file paths, so
    // wildcard exposure must be a deliberate second argument
    val host = args.drop(1).headOption.getOrElse("127.0.0.1")
    val spark = graft.GraftSession.local(
      sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4), "graft-serve")
    val server = start(spark, port, host)
    println(s"[serve] listening on $host:${server.getAddress.getPort} " +
      "(GET /, POST /initialize, /embed, /search)")
    if (args.length < 2)
      // upgraders from the pre-round-10 wildcard default land here: the
      // loopback bind silently refuses external connections, so say how
      // to get them back where the operator is actually looking
      println("[serve] loopback bind (default since round 10): external " +
        "clients cannot connect; pass a host argument — e.g. " +
        s"`Serve $port 0.0.0.0` — to expose deliberately")
    Thread.currentThread().join()
  }

  /** Start a server bound to `host:port` (port 0 = ephemeral). The
    * returned handle is live; `stop(0)` shuts it down. */
  def start(spark: SparkSession, port: Int,
      host: String = "127.0.0.1"): HttpServer = {
    val state = new ServeState(spark)
    val server = HttpServer.create(
      new java.net.InetSocketAddress(host, port), 0)
    server.createContext("/initialize", ex => state.handle(ex, state.initialize))
    server.createContext("/embed", ex => state.handle(ex, state.embed))
    server.createContext("/search", ex => state.handle(ex, state.search))
    // the reference serves templates/index.html at "/" (app.py:12-14)
    server.createContext("/", ex => state.frontend(ex))
    // daemon workers: HttpServer.stop() does not shut down a
    // user-supplied executor, and non-daemon threads would leak per
    // start/stop cycle and pin the JVM open after main exits
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4,
      r => { val t = new Thread(r, "graft-serve"); t.setDaemon(true); t }))
    server.start()
    server
  }

  /** The "/" page — a minimal, dependency-free analog of the
    * reference's templates/index.html: one form per endpoint, results
    * and the response/sources rendered from the JSON bodies. */
  private[tools] val IndexHtml: String =
    """<!doctype html>
      |<html lang="en"><head><meta charset="utf-8">
      |<title>graft vector store</title>
      |<style>
      | body{font-family:sans-serif;max-width:52rem;margin:2rem auto;padding:0 1rem}
      | fieldset{margin-bottom:1rem;border:1px solid #999;border-radius:4px}
      | input[type=text]{width:24rem} pre{background:#f4f4f4;padding:.5rem;overflow:auto}
      |</style></head><body>
      |<h1>graft vector store</h1>
      |<fieldset><legend>1 — initialize</legend>
      | <form id="init"><input type="text" name="save_dir" placeholder="store directory" required>
      | <button>Initialize</button></form></fieldset>
      |<fieldset><legend>2 — embed</legend>
      | <form id="embed"><input type="text" name="path" placeholder="file / folder / parquet path" required>
      | <label><input type="checkbox" name="is_folder"> folder</label>
      | <button>Embed</button></form></fieldset>
      |<fieldset><legend>3 — search</legend>
      | <form id="search"><input type="text" name="text" placeholder="query text" required>
      | <input type="text" name="search_location" placeholder="location filter (optional)">
      | <button>Search</button></form></fieldset>
      |<h2>response</h2><pre id="response"></pre>
      |<h2>sources</h2><pre id="sources"></pre>
      |<h2>raw</h2><pre id="out"></pre>
      |<script>
      |async function post(url, body) {
      |  const r = await fetch(url, {method:'POST',
      |    headers:{'Content-Type':'application/json'}, body:JSON.stringify(body)});
      |  const j = await r.json();
      |  document.getElementById('out').textContent = JSON.stringify(j, null, 2);
      |  return j;
      |}
      |document.getElementById('init').onsubmit = e => { e.preventDefault();
      |  post('/initialize', {save_dir: e.target.save_dir.value}); };
      |document.getElementById('embed').onsubmit = e => { e.preventDefault();
      |  post('/embed', {path: e.target.path.value, is_folder: e.target.is_folder.checked}); };
      |document.getElementById('search').onsubmit = async e => { e.preventDefault();
      |  const body = {query: {text: e.target.text.value}};
      |  if (e.target.search_location.value) body.search_location = e.target.search_location.value;
      |  const j = await post('/search', body);
      |  document.getElementById('response').textContent = j.response || j.error || '';
      |  document.getElementById('sources').textContent = JSON.stringify(j.sources || [], null, 2);
      |};
      |</script></body></html>
      |""".stripMargin
}

private class ServeState(spark: SparkSession) {
  import spark.implicits._

  @volatile private var db: Option[GraftVectorDB] = None

  private def str(j: JValue, key: String): Option[String] =
    j \ key match {
      case JString(s) => Some(s)
      case _ => None
    }

  def handle(ex: HttpExchange, body: JValue => (Int, JValue)): Unit =
    try {
      if (ex.getRequestMethod != "POST")
        respond(ex, 405, JObject("error" -> JString("POST only")))
      else {
        val in = new String(ex.getRequestBody.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        val json = if (in.trim.isEmpty) JObject() else JsonMethods.parse(in)
        val (code, out) = body(json)
        respond(ex, code, out)
      }
    } catch {
      case e: com.fasterxml.jackson.core.JacksonException =>
        respond(ex, 400, JObject("error" -> JString(s"bad JSON: ${e.getMessage}")))
      case e: Exception =>
        respond(ex, 500, JObject("error" -> JString(
          Option(e.getMessage).getOrElse(e.getClass.getName))))
    }

  def respond(ex: HttpExchange, code: Int, json: JValue): Unit = {
    val bytes = JsonMethods.compact(JsonMethods.render(json))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  def initialize(json: JValue): (Int, JValue) =
    str(json, "save_dir") match {
      case None => (400, JObject("error" -> JString("save_dir is required")))
      case Some(dir) =>
        db = Some(new GraftVectorDB(spark, dir))
        (200, JObject("message" ->
          JString(s"store initialized successfully with save_dir: $dir")))
    }

  private def uninitialized: (Int, JValue) =
    (400, JObject("error" -> JString(
      "store is not initialized. POST /initialize first.")))

  def embed(json: JValue): (Int, JValue) = db match {
    case None => uninitialized
    case Some(d) =>
      str(json, "path") match {
        case None => (400, JObject("error" -> JString("path is required")))
        case Some(path) =>
          val isFolder = (json \ "is_folder") match {
            case JBool(b) => b
            case _ => false
          }
          val f = new java.io.File(path)
          if (!f.exists())
            return (400, JObject("error" -> JString(s"no such path: $path")))
          // real-world file names mix case (REPORT.PDF); a trailing
          // .gz/.zst is the transparent-compression wrapper
          // (page.html.gz / dump.jsonl.zst route by the inner
          // extension — DocParse.records inflates by magic sniff)
          def ext(name: String) = {
            val lower = name.toLowerCase(java.util.Locale.ROOT)
            val base =
              if (lower.endsWith(".gz")) lower.dropRight(3)
              else if (lower.endsWith(".zst")) lower.dropRight(4)
              else lower
            base.substring(base.lastIndexOf('.') + 1)
          }
          val supported = Set("pdf", "pptx", "docx", "html", "xlsx", "md",
            "epub", "odt", "rtf", "jsonl", "csv", "warc",
            // standalone image files ingest as single image records
            "png", "jpg", "jpeg", "gif", "bmp", "tif", "tiff")
          // is_folder=false on a .parquet file OR a directory = a
          // parquet corpus table (a parquet dataset IS a directory —
          // the bulk vectorize_folder shape at cluster scale);
          // is_folder=true means "sweep this directory for documents"
          val isParquetTable =
            !isFolder && (ext(f.getName) == "parquet" || f.isDirectory)
          // /search serves from a built ANN index: rows it does not
          // take stay unfindable until the next rebuild
          val indexed = d.channelNames.filter(d.annIndexBuilt)
          if (isParquetTable) {
            val n = d.ingest(spark.read.parquet(path), indexed)
            (200, JObject("message" -> JString(s"ingested corpus table $path"),
              "records" -> JLong(n)))
          } else {
            val files =
              if (isFolder)
                Option(f.listFiles()).getOrElse(Array.empty)
                  .filter(x => x.isFile && supported(ext(x.getName))).toSeq
              else if (supported(ext(f.getName))) Seq(f)
              else return (400, JObject("error" -> JString(
                s"unsupported file type .${ext(f.getName)} (pdf|pptx|docx|html|xlsx|md|epub|odt|rtf|jsonl|csv|warc|png|jpg|jpeg|gif|bmp|tif|tiff|parquet)")))
            if (files.isEmpty)
              return (400, JObject("error" -> JString(
                s"no supported files (pdf|pptx|docx|html|xlsx|md|epub|odt|rtf|jsonl|csv|warc|png|jpg|jpeg|gif|bmp|tif|tiff) under $path")))
            // the image extensions all route to the ONE image format
            val imageExts = Set("png", "jpg", "jpeg", "gif", "bmp", "tif", "tiff")
            val n = files.groupBy(x => {
              val e = ext(x.getName)
              if (imageExts(e)) "image" else e
            }).map { case (fmt, fs) =>
              val payloads = fs.map(x => (x.getPath,
                java.nio.file.Files.readAllBytes(x.toPath)))
                .toDF("doc_name", "payload")
              // a WARC file fans out to its HTML captures, each
              // ingesting like a standalone page under its URI
              d.ingestRecords(
                if (fmt == "warc")
                  DocParse.records(DocParse.warcHtml(payloads), "html")
                else DocParse.records(payloads, fmt),
                indexed)
            }.sum
            (200, JObject(
              "message" -> JString(s"successfully embedded " +
                s"${if (isFolder) "folder" else "file"}: $path"),
              "records" -> JLong(n)))
          }
      }
  }

  private def rowsJson(rows: Seq[org.apache.spark.sql.Row]): JArray =
    JArray(rows.toList.map { r =>
      JObject(
        "rnk" -> JLong(r.getAs[Long]("rnk")),
        "sim_r" -> JDouble(r.getAs[Double]("sim_r")),
        "doc_name" -> JString(r.getAs[String]("doc_name")),
        "page_num" -> JLong(r.getAs[Long]("page_num")),
        "content_type" -> JString(r.getAs[String]("content_type")),
        "content_id" -> JString(r.getAs[String]("content_id")),
        "content_raw" -> JString(r.getAs[String]("content_raw")))
    })

  def search(json: JValue): (Int, JValue) = db match {
    case None => uninitialized
    case Some(d) =>
      val query = json \ "query"
      str(query, "text") match {
        case None | Some("") =>
          (400, JObject("error" -> JString("search query text is required")))
        case Some(text) =>
          val location = str(json, "search_location").filter(_.nonEmpty)
          val topN = (json \ "top_n") match {
            case JNothing => 5
            case JInt(n) if n >= 1 && n <= Int.MaxValue => n.toInt
            case other =>
              return (400, JObject("error" -> JString(
                s"top_n must be an integer in [1, ${Int.MaxValue}], got " +
                  JsonMethods.compact(JsonMethods.render(other)))))
          }
          val images = (json \ "image") match {
            case JArray(items) => items.collect { case JString(s) => s }
            case _ => (query \ "image") match {
              case JArray(items) => items.collect { case JString(s) => s }
              case _ => Nil
            }
          }
          // the reference validates each base64 image before searching
          images.foreach { b64 =>
            try java.util.Base64.getDecoder.decode(b64)
            catch {
              case e: IllegalArgumentException =>
                return (400, JObject("error" ->
                  JString(s"invalid image format: ${e.getMessage}")))
            }
          }
          // run_search's return contract (vector_db.py:666-671):
          // response + source manifest, with the rows they were
          // assembled from
          val r = d.runSearch(text, images, topN, location)
          (200, JObject(
            "response" -> JString(r.response),
            "sources" -> JArray(r.sources.toList.map(s =>
              JObject(
                "doc_name" -> JString(s.docName),
                "page_num" -> JLong(s.pageNum),
                "content_type" -> JString(s.contentType),
                "content_id" -> JString(s.contentId),
                "content_raw" -> JString(s.contentRaw)))),
            "results" -> JObject(
              "text" -> rowsJson(r.textRows),
              "image" -> JArray(r.imageRows.toList.map(rowsJson)))))
      }
  }

  /** GET / — the static frontend (templates/index.html analog): a
    * self-contained page whose three forms drive the three endpoints.
    * Anything but GET on "/" (and any unknown path) is a JSON 405/404,
    * keeping the API surface scriptable. */
  def frontend(ex: HttpExchange): Unit =
    if (ex.getRequestMethod != "GET")
      respond(ex, 405, JObject("error" -> JString("GET only")))
    else if (ex.getRequestURI.getPath != "/")
      respond(ex, 404, JObject("error" -> JString(
        s"no such path: ${ex.getRequestURI.getPath}")))
    else {
      val bytes = Serve.IndexHtml.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
      ex.sendResponseHeaders(200, bytes.length)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
}
