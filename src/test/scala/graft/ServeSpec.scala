package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The HTTP serving veneer (graft.tools.Serve) — the app.py analog:
  * endpoint contract, error shapes, and a REAL .pdf file ingested
  * over the wire and served back by search. */
class ServeSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def rmRf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmRf))
    f.delete()
  }

  test("initialize → embed (corpus parquet + real pdf file) → search; app.py error contract") {
    val server = graft.tools.Serve.start(spark, 0)
    val port = server.getAddress.getPort
    val client = java.net.http.HttpClient.newHttpClient()
    def post(path: String, body: String): (Int, String) = {
      val req = java.net.http.HttpRequest.newBuilder()
        .uri(java.net.URI.create(s"http://127.0.0.1:$port$path"))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build()
      val resp = client.send(req,
        java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    try {
      // the reference's pre-initialization guard, same code + shape
      val (c0, b0) = post("/search", """{"query":{"text":"x"}}""")
      assert(c0 == 400 && b0.contains("not initialized"), b0)
      val dir = "target/vdb_serve_spec"
      rmRf(new java.io.File(dir))
      val (c1, b1) = post("/initialize", s"""{"save_dir":"$dir"}""")
      assert(c1 == 200 && b1.contains("initialized successfully"), b1)
      // bulk corpus ingest: a parquet dataset path
      val (c2, b2) = post("/embed",
        s"""{"path":"$sf/documents.parquet","is_folder":false}""")
      assert(c2 == 200 && b2.contains("corpus table"), b2)
      // a REAL .pdf file over the wire, through the real parser
      val tmp = java.nio.file.Files.createTempDirectory("serve_pdf")
      val text = Tables.load(spark, sf, "documents")
        .orderBy($"doc_id").select($"text").first().getString(0)
      val pdfBytes = Seq(text).toDF("t")
        .select(graft.functions.expressions.SynthPdf($"t").as("p"))
        .first().getAs[Array[Byte]]("p")
      val pdfPath = tmp.resolve("report.pdf")
      java.nio.file.Files.write(pdfPath, pdfBytes)
      val (c3, b3) = post("/embed",
        s"""{"path":"$pdfPath","is_folder":false}""")
      assert(c3 == 200 && b3.contains("report.pdf") &&
        b3.contains("\"records\""), b3)
      // folder form sweeps supported files
      val (c3b, b3b) = post("/embed", s"""{"path":"$tmp","is_folder":true}""")
      assert(c3b == 200, b3b) // re-embed dedups to 0 fresh records, still 200
      // the round-12 extensions route through the same endpoint: one
      // real file per new format family in a second folder sweep
      val tmp2 = java.nio.file.Files.createTempDirectory("serve_fmt")
      def write(name: String, bytes: Array[Byte]): Unit =
        java.nio.file.Files.write(tmp2.resolve(name), bytes)
      write("b.epub", graft.functions.expressions.SynthEpub.build(text))
      write("d.odt", graft.functions.expressions.SynthOdt.build(text))
      write("r.jsonl",
        """{"url":"http://s/1","text":"served jsonl record"}""".getBytes("UTF-8"))
      write("t.csv",
        "id,url,text\n1,http://s/2,served csv record\n".getBytes("UTF-8"))
      val (c3c, b3c) = post("/embed", s"""{"path":"$tmp2","is_folder":true}""")
      assert(c3c == 200 && b3c.contains("\"records\""), b3c)
      // search serves rows with the serving surface's columns
      val (c4, b4) = post("/search",
        """{"query":{"text":"fast query join table"},"top_n":3}""")
      assert(c4 == 200 && b4.contains("\"rnk\":1") &&
        b4.contains("doc_name"), b4)
      // the pdf's content is findable scoped to its own path
      val (c4b, b4b) = post("/search",
        s"""{"query":{"text":"${text.split("\\s+").take(4).mkString(" ")}"},
           |"search_location":"$pdfPath","top_n":3}""".stripMargin)
      assert(c4b == 200 && b4b.contains("report.pdf"), b4b)
      // image queries: one result list per base64 item; bad base64 is
      // the reference's 400
      val okB64 = java.util.Base64.getEncoder.encodeToString("img".getBytes)
      val (c5, b5) = post("/search",
        s"""{"query":{"text":"x","image":["$okB64"]}}""")
      assert(c5 == 200 && b5.contains("\"image\":[["), b5)
      val (c6, b6) = post("/search", """{"query":{"text":"x","image":["%%%"]}}""")
      assert(c6 == 400 && b6.contains("invalid image format"), b6)
      // missing query text, unsupported file type, bad JSON
      val (c7, b7) = post("/search", """{"query":{}}""")
      assert(c7 == 400 && b7.contains("required"), b7)
      val (c8, b8) = post("/embed", """{"path":"build.sbt","is_folder":false}""")
      assert(c8 == 400 && b8.contains("unsupported file type"), b8)
      val (c9, b9) = post("/search", """{"query":{""")
      assert(c9 == 400 && b9.contains("bad JSON"), b9)
    } finally server.stop(0)
  }

  test("GET / serves the frontend; /search carries run_search's response+sources contract") {
    val server = graft.tools.Serve.start(spark, 0)
    val port = server.getAddress.getPort
    val client = java.net.http.HttpClient.newHttpClient()
    def post(path: String, body: String): (Int, String) = {
      val req = java.net.http.HttpRequest.newBuilder()
        .uri(java.net.URI.create(s"http://127.0.0.1:$port$path"))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build()
      val resp = client.send(req,
        java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    def get(path: String): (Int, String, String) = {
      val req = java.net.http.HttpRequest.newBuilder()
        .uri(java.net.URI.create(s"http://127.0.0.1:$port$path")).GET().build()
      val resp = client.send(req,
        java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body(),
        resp.headers().firstValue("Content-Type").orElse(""))
    }
    try {
      // the frontend page loads with the three endpoint forms wired
      val (gc, gb, gt) = get("/")
      assert(gc == 200 && gt.startsWith("text/html"), s"$gc $gt")
      assert(gb.contains("<html") && gb.contains("/initialize") &&
        gb.contains("/embed") && gb.contains("/search"), gb.take(200))
      // unknown paths are still JSON 404s, POST / is a 405
      assert(get("/nosuch")._1 == 404)
      assert(post("/", "{}")._1 == 405)
      // a scripted search round-trips through the same JSON the page
      // consumes: response + sources + results
      val dir = "target/vdb_serve_front"
      rmRf(new java.io.File(dir))
      assert(post("/initialize", s"""{"save_dir":"$dir"}""")._1 == 200)
      assert(post("/embed",
        s"""{"path":"$sf/documents.parquet","is_folder":false}""")._1 == 200)
      val (sc, sb) = post("/search",
        """{"query":{"text":"fast query join table"},"top_n":3}""")
      assert(sc == 200, sb)
      val json = org.json4s.jackson.JsonMethods.parse(sb)
      import org.json4s._
      val response = (json \ "response").asInstanceOf[JString].s
      assert(response.startsWith("[extractive] "), response)
      val sources = (json \ "sources").asInstanceOf[JArray].arr
      assert(sources.size == 3, s"expected 3 source entries, got $sources")
      // source manifest rows mirror the top result rows, in order
      val firstSrc = sources.head.asInstanceOf[JObject].obj.toMap
      val firstHit = ((json \ "results" \ "text").asInstanceOf[JArray]
        .arr.head).asInstanceOf[JObject].obj.toMap
      Seq("doc_name", "page_num", "content_type", "content_id", "content_raw")
        .foreach(k => assert(firstSrc(k) == firstHit(k), k))
      // the response text is the extractive model over the top hit
      val topRaw = firstHit("content_raw").asInstanceOf[JString].s
      assert(response.contains(topRaw.take(50)), response)
      // the library-level runSearch returns the same contract the
      // endpoint serialized: same response, same source order, and
      // the assembled prompt carries the reference's message shape
      val db = new graft.operators.GraftVectorDB(spark, dir)
      val r = db.runSearch("fast query join table", topN = 3)
      assert(r.response == response)
      assert(r.sources.map(_.docName) ==
        sources.map(s => (s \ "doc_name").asInstanceOf[JString].s))
      assert(r.messages.head.role == "system" &&
        r.messages.last.content.startsWith("Please generate"))
      assert(r.messages.count(_.role == "user") == r.messages.size - 1)
    } finally server.stop(0)
  }

  test("/embed after buildAnnIndex: ANN-served /search finds the new doc, scoped and unscoped") {
    val server = graft.tools.Serve.start(spark, 0)
    val port = server.getAddress.getPort
    val client = java.net.http.HttpClient.newHttpClient()
    def post(path: String, body: String): (Int, String) = {
      val req = java.net.http.HttpRequest.newBuilder()
        .uri(java.net.URI.create(s"http://127.0.0.1:$port$path"))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build()
      val resp = client.send(req,
        java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    try {
      val dir = "target/vdb_serve_fresh"
      rmRf(new java.io.File(dir))
      assert(post("/initialize", s"""{"save_dir":"$dir"}""")._1 == 200)
      assert(post("/embed",
        s"""{"path":"$sf/documents.parquet","is_folder":false}""")._1 == 200)
      // from here on /search serves from the text ANN index
      new graft.operators.GraftVectorDB(spark, dir).buildAnnIndex()
      val text = "quokka zephyr embedded after the index build"
      val fresh = java.nio.file.Files.createTempDirectory("serve_fresh")
        .resolve("fresh.parquet").toString
      Seq((900001L, text, "en", "src1", text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(fresh)
      val (ce, be) = post("/embed", s"""{"path":"$fresh","is_folder":false}""")
      assert(ce == 200 && be.contains("\"records\":1"), be)
      for (scope <- Seq(""","search_location":"corpus/src1/"""", "")) {
        val (cs, bs) = post("/search", s"""{"query":{"text":"$text"},"top_n":3$scope}""")
        assert(cs == 200 && bs.contains("corpus/src1/doc_900001.txt"), s"scope [$scope]: $bs")
      }
    } finally server.stop(0)
  }

  test("/search answers 400 to a top_n that is not an integer in [1, Int.MaxValue]") {
    val server = graft.tools.Serve.start(spark, 0)
    val port = server.getAddress.getPort
    val client = java.net.http.HttpClient.newHttpClient()
    def post(path: String, body: String): (Int, String) = {
      val req = java.net.http.HttpRequest.newBuilder()
        .uri(java.net.URI.create(s"http://127.0.0.1:$port$path"))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build()
      val resp = client.send(req,
        java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    try {
      val dir = "target/vdb_serve_topn"
      rmRf(new java.io.File(dir))
      assert(post("/initialize", s"""{"save_dir":"$dir"}""")._1 == 200)
      val corpus = java.nio.file.Files.createTempDirectory("serve_topn")
        .resolve("docs.parquet").toString
      Seq((1L, "alpha beta gamma", "en", "s"), (2L, "delta epsilon", "en", "s"),
          (3L, "zeta eta theta", "en", "s"))
        .toDF("doc_id", "text", "lang", "source").coalesce(1).write.parquet(corpus)
      assert(post("/embed", s"""{"path":"$corpus","is_folder":false}""")._1 == 200)
      def search(topN: String): (Int, String) =
        post("/search", s"""{"query":{"text":"alpha beta"}$topN}""")
      // 0 and -1 used to reach the search unchecked, 4294967299 wrapped
      // to 3, and "7" silently became the default 5
      for (bad <- Seq("0", "-1", "4294967299", "\"7\"", "2.5", "null")) {
        val (c, b) = search(s""","top_n":$bad""")
        assert(c == 400 && b.contains("\"error\"") && b.contains("top_n"), s"top_n $bad: $c $b")
      }
      def textHits(b: String): Int = {
        import org.json4s._
        (org.json4s.jackson.JsonMethods.parse(b) \ "results" \ "text")
          .asInstanceOf[JArray].arr.size
      }
      val (c1, b1) = search(""","top_n":1""")
      assert(c1 == 200 && textHits(b1) == 1, b1)
      // absent keeps the default of 5 (the store holds only 3 chunks)
      val (c0, b0) = search("")
      assert(c0 == 200 && textHits(b0) == 3, b0)
    } finally server.stop(0)
  }

  test("ResponseGen: prompt assembly byte-parity and clean_json_string behavior") {
    import graft.operators.ResponseGen
    val hits = Seq(
      ("a.pdf", 1L, "text", "t1", "alpha body"),
      ("b.jpg", 2L, "image", "i1", "QUJD"), // base64 payload rides content_raw
      ("c.pdf", 3L, "text", "t2", "gamma body"))
      .toDF("doc_name", "page_num", "content_type", "content_id", "content_raw")
      .collect().toSeq
    val parts = ResponseGen.assemble(Some("what is alpha?"), Seq("AA=="), hits)
    // reference order: system, header, text query, query images,
    // retrieved header, TEXT hits then IMAGE hits, closing
    assert(parts.map(p => (p.role, p.ctype)) == Seq(
      ("system", "text"), ("user", "text"), ("user", "text"),
      ("user", "image"), ("user", "text"), ("user", "text"),
      ("user", "text"), ("user", "image"), ("user", "text")))
    assert(parts(1).content == "Here is the search query content:\n")
    assert(parts(2).content == "Text query: what is alpha?")
    assert(parts(3).content == "data:image/jpeg;base64,AA==")
    assert(parts(4).content == "\n\nHere is the retreived material:")
    assert(parts(5).content == "alpha body" && parts(6).content == "gamma body")
    assert(parts(7).content == "data:image/jpeg;base64,QUJD")
    assert(parts.head.content.startsWith("You are a helpful assistant"))
    assert(parts.last.content.startsWith("Please generate an appropriate"))
    // source manifest preserves combined order
    assert(ResponseGen.sources(hits).map(_.contentId) == Seq("t1", "i1", "t2"))
    // clean_json_string parity (vector_db.py:599-608)
    assert(ResponseGen.cleanJsonString("  ```json\n{\"a\": 1}\n```  ") == "{\"a\": 1}")
    assert(ResponseGen.cleanJsonString("prefix {\"a\":{\"b\":2}} suffix") == "{\"a\":{\"b\":2}}")
    assert(ResponseGen.cleanJsonString("no braces at all") == "no braces at all")
  }
}
