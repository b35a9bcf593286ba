package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic `.warc.gz` / `.warc.zst` for a text column — the
  * fixture generator behind the vs_parse_warc oracle: a
  * CommonCrawl-shaped capture with THREE records (warcinfo → request
  * → response), each its own gzip MEMBER or zstd FRAME by a
  * deterministic codec share (the standard per-record layouts —
  * [[Inflate]]'s multi-member / concatenated-frame inflate reassembles the
  * plain WARC either way). The response block is a real HTTP/1.1
  * message whose body is the [[SynthHtml]] page for the text; the
  * target URI derives from the text's md5 so the oracle recomputes
  * it. */
case class SynthWarc(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = BinaryType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"SynthWarc needs a string column, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    SynthWarc.build(input.asInstanceOf[UTF8String].toString)

  override protected def withNewChildInternal(c: Expression): SynthWarc =
    copy(child = c)
}

object SynthWarc {
  def apply(text: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      SynthWarc(org.apache.spark.sql.graft.ColumnBridge.expression(text)))

  /** The MESSY form a real crawler records — uppercase scheme/host,
    * default port, doubled slash, trailing slash, tracking params,
    * fragment. WARC-Target-URI carries this so the crawl-pipeline
    * composition exercises every canonicalization rule on data that
    * flowed through the container (not a synthetic url column). */
  private[graft] def rawUriOf(md5Prefix8: String): String =
    s"HTTP://Example.COM:80//${md5Prefix8}/?utm_source=feed&fbclid=xyz#top"

  private[graft] def build(text: String): Array[Byte] = {
    val iso = java.nio.charset.StandardCharsets.ISO_8859_1
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val md5p = java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes(utf8)).map("%02x".format(_)).mkString.take(8)
    val uri = rawUriOf(md5p)
    def record(headers: Seq[(String, String)], block: Array[Byte]): Array[Byte] = {
      val head = ("WARC/1.0" +: headers.map { case (k, v) => s"$k: $v" })
        .mkString("", "\r\n", "\r\n") +
        s"Content-Length: ${block.length}\r\n\r\n"
      head.getBytes(iso) ++ block ++ "\r\n\r\n".getBytes(iso)
    }
    val info = record(Seq(
      "WARC-Type" -> "warcinfo",
      "WARC-Record-ID" -> s"<urn:md5:$md5p-info>",
      "Content-Type" -> "application/warc-fields"),
      "software: graft-synth\r\n".getBytes(iso))
    val request = record(Seq(
      "WARC-Type" -> "request",
      "WARC-Record-ID" -> s"<urn:md5:$md5p-req>",
      "WARC-Target-URI" -> uri,
      "Content-Type" -> "application/http; msgtype=request"),
      s"GET /$md5p HTTP/1.1\r\nHost: example.com\r\n\r\n".getBytes(iso))
    val page = SynthHtml.build(text)
    // the header declares the page's ACTUAL charset (SynthHtml's
    // share route) — the transport layer a real crawl capture carries
    val cs = SynthHtml.charsetNameOf(SynthHtml.shareOf(text))
    val http = (s"HTTP/1.1 200 OK\r\n" +
      s"Content-Type: text/html; charset=$cs\r\n" +
      s"Content-Length: ${page.length}\r\n\r\n").getBytes(iso) ++ page
    val response = record(Seq(
      "WARC-Type" -> "response",
      "WARC-Record-ID" -> s"<urn:md5:$md5p-resp>",
      "WARC-Target-URI" -> uri,
      "Content-Type" -> "application/http; msgtype=response"), http)
    // codec share (md5 SECOND byte high nibble mod 2 — independent of
    // the charset share): half the captures ship as the standard
    // `.warc.gz` (one gzip member per record), half as `.warc.zst`
    // (one zstd frame per record). Transparent to the parse output —
    // [[Inflate]] reassembles both — so the oracle is share-free; the
    // share exists so the driver gate exercises BOTH decoders.
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes(utf8))
    if (((d(1) >> 4) & 0xF) % 2 == 0)
      Inflate.gzip(info) ++ Inflate.gzip(request) ++ Inflate.gzip(response)
    else
      Inflate.zstd(info) ++ Inflate.zstd(request) ++ Inflate.zstd(response)
  }
}

/** The IMAGE-carrying capture behind mm_crawl — the crawl's
  * multimodal half: two image-typed responses for the SAME picture
  * (one under the messy raw URI a crawler records, one under the
  * clean form — the canonicalizer must merge them BEFORE any pixel
  * decode runs), plus a text/html page whose body embeds a shared
  * site LOGO as a base64 data URI (bucketed to ten logos across the
  * corpus, so the pixel-hash grouping stage has real cross-page
  * structure to find). The content image is [[SynthPng]]'s
  * format-share raster for the text; every derivable fact — urls,
  * format mime, logo bucket — is md5(text) math the DuckDB oracle
  * replays. The codec share rides all FOUR transparent codecs
  * (gzip/zstd/xz/bzip2), one member per record. */
case class SynthWarcImg(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = BinaryType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"SynthWarcImg needs a string column, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    SynthWarcImg.build(input.asInstanceOf[UTF8String].toString)

  override protected def withNewChildInternal(c: Expression): SynthWarcImg =
    copy(child = c)
}

object SynthWarcImg {
  def apply(text: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      SynthWarcImg(org.apache.spark.sql.graft.ColumnBridge.expression(text)))

  /** Ten shared "site logo" rasters across the corpus (md5 byte-2
    * mod 10 routes each page to one) — the cross-page duplicate mass
    * an image dedup ring exists to find. The bucket number sits
    * INSIDE the first 20 chars: SynthPng seeds block content by the
    * 20-char prefix, so a suffix-only bucket would render ten
    * near-identical rasters that hash together. */
  private[graft] def logoTextOf(bucket: Int): String =
    s"logo $bucket graft synthetic"

  /** r17: the logo raster is one of TEN deterministic images, but the
    * synth re-rendered (raster + filter + deflate) and re-base64'd it
    * for EVERY capture — ~40% of the whole synthesis wall
    * (OPTIMIZATION_r17.md, crawl family: synthesis alone was 7.7 s of
    * mm_crawl's 15.4 s at sf1). One per-JVM memo of the (mime, base64)
    * pair per bucket; SynthPng.build is pure, so the cached bytes are
    * byte-identical to the per-row render and nothing downstream can
    * tell (oracle hashes unchanged — the regression check). */
  private val logoMemo =
    new java.util.concurrent.ConcurrentHashMap[Int, (String, String)]()
  private def logoOf(bucket: Int): (String, String) =
    logoMemo.computeIfAbsent(bucket, b => {
      val text = logoTextOf(b)
      (mimeOf(SynthPng.formatOf(text)),
        java.util.Base64.getEncoder.encodeToString(SynthPng.build(text)))
    })

  private[graft] def mimeOf(fmtShare: Int): String = fmtShare match {
    case 3 => "image/gif"
    case 4 => "image/bmp"
    case 5 => "image/webp"
    case _ => "image/png"
  }

  private[graft] def build(text: String): Array[Byte] = {
    val iso = java.nio.charset.StandardCharsets.ISO_8859_1
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val d = java.security.MessageDigest.getInstance("MD5").digest(text.getBytes(utf8))
    // 12 hex chars (48 bits): an 8-char prefix has a ~25% birthday
    // collision chance at a 50k-doc corpus, which would silently merge
    // two pages' images under one url
    val md5p = d.map("%02x".format(_)).mkString.take(12)
    val img = SynthPng.build(text)
    val mime = mimeOf(SynthPng.formatOf(text))
    val bucket = (d(2) & 0xFF) % 10
    val (logoMime, logoB64) = logoOf(bucket)
    def record(uri: String, httpMime: String, body: Array[Byte]): Array[Byte] = {
      val http = (s"HTTP/1.1 200 OK\r\nContent-Type: $httpMime\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes(iso) ++ body
      (s"WARC/1.0\r\nWARC-Type: response\r\n" +
        s"WARC-Record-ID: <urn:md5:$md5p-${http.length}>\r\n" +
        s"WARC-Target-URI: $uri\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${http.length}\r\n\r\n").getBytes(iso) ++
        http ++ "\r\n\r\n".getBytes(iso)
    }
    // the same picture under a messy raw URI and its clean form —
    // both canonicalize to http://example.com/img/<p>?a=1&b=2
    val messy = record(
      s"HTTP://Example.COM:80//img//$md5p/?b=2&utm_source=feed&a=1#t", mime, img)
    val clean = record(s"http://example.com/img/$md5p?a=1&b=2", mime, img)
    val html = ("<html><body><main><p>image gallery " + md5p + "</p>" +
      "<img src=\"data:" + logoMime + ";base64," + logoB64 +
      "\"></main></body></html>").getBytes(utf8)
    val page = record(s"http://example.com/page/$md5p", "text/html", html)
    // codec share: all four transparent codecs, one member per record
    val codec: Array[Byte] => Array[Byte] = ((d(1) >> 4) & 0xF) % 4 match {
      case 0 => Inflate.gzip
      case 1 => Inflate.zstd
      case 2 => Inflate.xz
      case _ => Inflate.bzip2
    }
    codec(messy) ++ codec(clean) ++ codec(page)
  }
}
