package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions._

/** The reference's response-generation contract, deterministic half.
  *
  * `generate_mistral_response` (vector_db.py:768-838) assembles a
  * two-message prompt — a fixed system instruction plus a user content
  * LIST interleaving the query text/images, the retrieved rows (text
  * rows first, then image rows, each in retrieval order), and a fixed
  * closing instruction — then calls a local LLM. `generate_gpt_response`
  * (:838-901) assembles the identical list in the OpenAI content shape.
  * `generate_source_list` (:903-916) walks the same retrieved rows into
  * a provenance manifest, and `run_search` (:614-671) returns
  * `{"response": summary, "sources": [...]}`.
  *
  * Everything up to the model call is deterministic, so it IS
  * reproducible here: [[assemble]] builds the exact content-list shape
  * (strings byte-identical to the reference's literals, including its
  * "retreived" spelling), [[sources]] the manifest, and the model call
  * itself sits behind [[ResponseModel]] — a real LLM drops into
  * `generate` without touching the assembly; [[ExtractiveModel]] is the
  * deterministic default. [[cleanJsonString]] is the reference's
  * response post-processor (:599-608) for models that return
  * fenced/prefixed JSON.
  *
  * [[response]] is the operator entry: the same assembly as a
  * DISTRIBUTED frame — one manifest row per (query, content element) —
  * over the text-cosine top-[[TopK]], so the whole contract
  * (headers, ordering, hit interleave, fused source manifest) is
  * oracle-checkable against SQL. Scale shape: the per-query hit list is
  * bounded (≤ [[TopK]]), so the manifest explode is k-bounded per
  * query; the only corpus-sized work is the retrieval itself (the
  * vs_knn shape: one corpus scan, broadcast queries, partial top-k).
  */
object ResponseGen {

  /** Reference literals (vector_db.py:781-837) — byte parity matters:
    * a user diffing prompts between engines should see zero drift. */
  val SystemPrompt: String =
    "You are a helpful assistant that is going to summarize the key " +
      "points from search results, based on a user query and relevant " +
      "retrieved content."
  val QueryHeader: String = "Here is the search query content:\n"
  // the reference spells it "retreived" (vector_db.py:789) — kept
  val RetrievedHeader: String = "\n\nHere is the retreived material:"
  val ClosingInstruction: String =
    "Please generate an appropriate response to the query based on the " +
      "information available - you can choose what retrieved information " +
      "is most appropriate to answer the question."

  val TopK = 5
  val NQueries = 10

  /** One element of the assembled prompt: `role` system/user, `ctype`
    * text/image (image content carries the reference's data-URL form). */
  case class ContentPart(role: String, ctype: String, content: String)

  /** One entry of the source manifest (generate_source_list's dict). */
  case class SourceRef(docName: String, pageNum: Long, contentType: String,
      contentId: String, contentRaw: String)

  /** run_search's return contract plus the assembled prompt (the
    * reference keeps the prompt internal; surfacing it is what makes
    * the contract testable) and the retrieved rows it was built from:
    * the text rows, then each query image's rows. */
  case class SearchResponse(response: String, messages: Seq[ContentPart],
      sources: Seq[SourceRef], textRows: Seq[Row], imageRows: Seq[Seq[Row]])

  /** The model seam: everything deterministic happens before this
    * call. A real LLM client implements `generate` over the assembled
    * messages; nothing else in the pipeline changes. */
  trait ResponseModel {
    def generate(messages: Seq[ContentPart], hits: Seq[Row]): String
  }

  /** Deterministic default: the top hit extractively, with provenance —
    * the same behavior [[GraftVectorDB.answer]] has always served. */
  object ExtractiveModel extends ResponseModel {
    def generate(messages: Seq[ContentPart], hits: Seq[Row]): String =
      hits.headOption.map { h =>
        s"[extractive] ${h.getAs[String]("content_raw").take(200)} " +
          s"(from ${h.getAs[String]("doc_name")} p${h.getAs[Long]("page_num")})"
      }.getOrElse("no relevant content found")
  }

  /** The content-list assembly (generate_mistral_response,
    * vector_db.py:779-812): system message, query header, query text,
    * query images, retrieved header, text hits THEN image hits (the
    * reference partitions its response frame by content_type, each
    * side in frame order), closing instruction. `hits` rows need
    * (content_type, content_raw). */
  def assemble(queryText: Option[String], queryImages: Seq[String],
      hits: Seq[Row]): Seq[ContentPart] = {
    val b = Seq.newBuilder[ContentPart]
    b += ContentPart("system", "text", SystemPrompt)
    b += ContentPart("user", "text", QueryHeader)
    queryText.foreach(t => b += ContentPart("user", "text", s"Text query: $t"))
    queryImages.foreach(i =>
      b += ContentPart("user", "image", s"data:image/jpeg;base64,$i"))
    b += ContentPart("user", "text", RetrievedHeader)
    val (img, txt) =
      hits.partition(_.getAs[String]("content_type") == "image")
    txt.foreach(h => b += ContentPart("user", "text", h.getAs[String]("content_raw")))
    img.foreach(h => b += ContentPart("user", "image",
      s"data:image/jpeg;base64,${h.getAs[String]("content_raw")}"))
    b += ContentPart("user", "text", ClosingInstruction)
    b.result()
  }

  /** generate_source_list (vector_db.py:903-916): one manifest entry
    * per retrieved row, in frame order. */
  def sources(hits: Seq[Row]): Seq[SourceRef] =
    hits.map(h => SourceRef(
      h.getAs[String]("doc_name"), h.getAs[Long]("page_num"),
      h.getAs[String]("content_type"), h.getAs[String]("content_id"),
      h.getAs[String]("content_raw")))

  /** clean_json_string (vector_db.py:599-608): strip, take the first
    * DOTALL `{...}` span if any, drop markdown fences, strip. */
  def cleanJsonString(s: String): String = {
    val t = s.trim
    val m = java.util.regex.Pattern
      .compile("\\{.*\\}", java.util.regex.Pattern.DOTALL).matcher(t)
    val core = if (m.find()) m.group(0) else t
    core.replace("```", "").trim
  }

  /** The distributed manifest operator (`vs_response`): text-cosine
    * top-[[TopK]] per query doc (doc_id < [[NQueries]] are queries,
    * the rest corpus — the vs_knn convention), assembled as one row
    * per (q_id, content element) with a fused source-manifest section:
    *
    *   seq 0               system prompt
    *   seq 1               query header
    *   seq 2               "Text query: " + query text
    *   seq 3               retrieved header
    *   seq 3+rnk           hit text, retrieval order (all-text corpus)
    *   seq 4+K             closing instruction
    *   seq 4+K+rnk         source row `<source>#<doc_id> rnk=<rnk>`
    */
  def response(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.spread(Tables.load(spark, dir, "documents"))
    val corpus = docs.filter($"doc_id" >= NQueries)
    val queries = docs.filter($"doc_id" < NQueries)
    val cEmb = corpus.select($"doc_id".as("n_id"),
        VectorStore.embedText($"text").as("v"))
      .withColumn("nrm", l2Norm($"v"))
    val qEmb = queries.select($"doc_id".as("q_id"),
        VectorStore.embedText($"text").as("qv"))
      .withColumn("qnrm", l2Norm($"qv"))
    val hits = KnnSearch.rankTopK(
      cEmb.crossJoin(broadcast(qEmb))
        .select($"q_id", $"n_id",
          round(cosine($"qv", $"v", $"qnrm", $"nrm"), 4).as("sim_r")),
      TopK)
    // hits are bounded (NQueries × TopK) — broadcast them back onto
    // the corpus for the content join; the corpus never shuffles
    val hx = corpus.select($"doc_id", $"source", $"text")
      .join(broadcast(hits), $"doc_id" === hits("n_id"))
    def fixedRow(seq: Long, role: String, content: org.apache.spark.sql.Column) =
      queries.select($"doc_id".as("q_id"), lit(seq).as("seq"),
        lit(role).as("role"), lit("text").as("ctype"), content.as("content"))
    fixedRow(0, "system", lit(SystemPrompt))
      .union(fixedRow(1, "user", lit(QueryHeader)))
      .union(fixedRow(2, "user", concat(lit("Text query: "), $"text")))
      .union(fixedRow(3, "user", lit(RetrievedHeader)))
      .union(hx.select($"q_id", ($"rnk" + 3).as("seq"), lit("user").as("role"),
        lit("text").as("ctype"), $"text".as("content")))
      .union(fixedRow(4L + TopK, "user", lit(ClosingInstruction)))
      .union(hx.select($"q_id", ($"rnk" + 4 + TopK).as("seq"),
        lit("source").as("role"), lit("text").as("ctype"),
        concat($"source", lit("#"), $"n_id".cast("string"),
          lit(" rnk="), $"rnk".cast("string")).as("content")))
      .orderBy($"q_id", $"seq")
  }
}
