package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Deterministic sf1-scale BENCH data: the driver's sf0.1 corpus
  * replicated into `replicas` disjoint key shards (~10× rows per
  * table). Bench-only — correctness always runs against the driver's
  * own parquet (TESTDATA.md); this exists so the scaling CURVE
  * (SURVEY round log) rests on measurements, not plan-shape argument.
  *
  * Replication preserves each table's workload shape instead of
  * naively duplicating rows (exact duplicates would explode the dedup
  * operators' pair counts quadratically and make every near-dup
  * cluster span replicas):
  *  - relational tables shift every key consistently per replica
  *    (orders.o_custkey and events.user_id move with customer
  *    .c_custkey, lineitem moves with orders/part/supplier), so joins
  *    fan out exactly as at sf0.1 — each replica is a disjoint shard,
  *    which is also how a 100 TB TPC-H-ish corpus actually scales;
  *  - documents get a per-replica VOCAB substitution (token → token +
  *    "r<i>"): within-replica shingle/Jaccard structure is isomorphic
  *    to the original, cross-replica shingle collisions are zero;
  *  - embeddings r>0 are fresh xxhash64-derived unit vectors (same
  *    unclustered geometry as the originals), so no cos≈1.0
  *    cross-replica pairs appear;
  *  - nation/region stay dimensions (not replicated).
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "data/sf1"
    val replicas = sys.env.getOrElse("SPARK_GRAFT_REPLICAS", "10").toInt
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, "graft-scalegen")
    import spark.implicits._

    val KC = 1000000L  // custkey / suppkey / partkey / doc / vec stride
    val KO = 10000000L // orderkey / event stride

    // SPARK_GRAFT_TABLES=documents,embeddings emits only those tables
    // (the MaxScore engagement corpus of BENCH_maxscore_sf10_r11.json
    // needs documents alone — no point writing 60M lineitem rows for it)
    val only: Set[String] = sys.env.get("SPARK_GRAFT_TABLES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    def load(n: String) = graft.Tables.load(spark, src, n)
    def save(df: DataFrame, n: String): Unit =
      if (only.nonEmpty && !only(n)) println(s"[scalegen] $n: skipped")
      else {
        df.write.mode(SaveMode.Overwrite).parquet(s"$out/$n.parquet")
        println(s"[scalegen] $n: ${spark.read.parquet(s"$out/$n.parquet").count()} rows")
      }
    def reps(f: Int => DataFrame): DataFrame =
      (0 until replicas).map(f).reduce(_ unionByName _)

    save(load("region"), "region")
    save(load("nation"), "nation")

    val cust = load("customer")
    save(reps(r => cust.select(($"c_custkey" + r * KC).as("c_custkey"),
      $"c_name", $"c_nationkey", $"c_acctbal", $"c_mktsegment")), "customer")

    val supp = load("supplier")
    save(reps(r => supp.select(($"s_suppkey" + r * KC).as("s_suppkey"),
      $"s_name", $"s_nationkey", $"s_acctbal")), "supplier")

    val part = load("part")
    save(reps(r => part.select(($"p_partkey" + r * KC).as("p_partkey"),
      $"p_name", $"p_brand", $"p_type", $"p_size", $"p_retailprice")), "part")

    val orders = load("orders")
    save(reps(r => orders.select(($"o_orderkey" + r * KO).as("o_orderkey"),
      ($"o_custkey" + r * KC).as("o_custkey"), $"o_orderstatus",
      $"o_totalprice", $"o_orderdate", $"o_orderpriority")), "orders")

    val li = load("lineitem")
    save(reps(r => li.select(($"l_orderkey" + r * KO).as("l_orderkey"),
      ($"l_partkey" + r * KC).as("l_partkey"),
      ($"l_suppkey" + r * KC).as("l_suppkey"),
      $"l_linenumber", $"l_quantity", $"l_extendedprice", $"l_discount",
      $"l_tax", $"l_returnflag", $"l_linestatus", $"l_shipdate")), "lineitem")

    // events.ts arrives as nanos-long (Tables.load converts to µs
    // timestamp); written back as µs timestamp — Bench reads through
    // Tables.load, which passes timestamps straight through
    val ev = load("events")
    save(reps(r => ev.select(($"event_id" + r * KO).as("event_id"), $"ts",
      ($"user_id" + r * KC).as("user_id"), $"event_type", $"value", $"props")),
      "events")

    // SPARK_GRAFT_STOPWORD_LAYER=1 weaves a Zipfian stop-word layer
    // into every document: after every 3rd token, one of 24 synthetic
    // stop words (sw0..sw23) drawn with p ∝ 1/(k+1) — Zipf s=1, the
    // shape real language gives BM25's common lists. Cross-replica BY
    // DESIGN (the vocab substitution skips them), so a corpus-wide
    // common term exists and the MaxScore engagement floor
    // (LexMaxScoreMinCommonRows) is reachable at sf10 — the probe
    // corpus real-scale serving measurements need. Deterministic:
    // draws come from xxhash64(token, position, replica).
    val stopLayer = sys.env.get("SPARK_GRAFT_STOPWORD_LAYER").contains("1")
    val zipfCum: Seq[Double] = {
      val h = (1 to 24).map(1.0 / _)
      val total = h.sum
      h.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def weave(text: org.apache.spark.sql.Column, r: Int) = {
      val cumLit = typedLit(zipfCum)
      concat_ws(" ", flatten(transform(split(trim(text), "\\s+"), (t, i) => {
        val u = pmod(xxhash64(t, i, lit(r), lit(0x5717L)), lit(1000000L))
          .cast("double") / 1000000.0
        val sw = concat(lit("sw"),
          size(filter(cumLit, c => c < u)).cast("string"))
        when(i % 3 === 2, array(t, sw)).otherwise(array(t))
      })))
    }

    val docs = load("documents")
    save(reps { r =>
      val substituted =
        if (r == 0) $"text"
        else concat_ws(" ", transform(split(trim($"text"), "\\s+"),
          t => concat(t, lit(s"r$r"))))
      val text = if (stopLayer) weave(substituted, r) else substituted
      docs.select(($"doc_id" + r * KC).as("doc_id"), text.as("text"),
        $"lang", $"source").withColumn("n_chars", length($"text"))
    }, "documents")

    val emb = load("embeddings")
    save(reps { r =>
      if (r == 0) emb
      else {
        val raw = transform(sequence(lit(0), lit(63)), d =>
          pmod(xxhash64($"vec_id", d, lit(r)), lit(2000001L)).cast("double")
            / 1000000.0 - 1.0)
        emb.select(($"vec_id" + r * KC).as("vec_id"), raw.as("raw"), $"label")
          .withColumn("nrm", sqrt(aggregate($"raw", lit(0.0),
            (acc, x) => acc + x * x)))
          .select($"vec_id",
            transform($"raw", x => (x / $"nrm").cast("float")).as("embedding"),
            $"label")
      }
    }, "embeddings")

    spark.stop()
  }
}
