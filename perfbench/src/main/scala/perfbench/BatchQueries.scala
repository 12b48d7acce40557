package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row

/**
 * batch_queries: every op is one stateless product query over the
 * generated corpus, run after `clearCache()`, in a seed-permuted order
 * per round. These ops are bound by scan, join, shuffle, codegen and the
 * text kernels, with no persisted state.
 *
 * Output check: each query's fingerprint must equal the one its
 * warm-up run produced; the warm-up fingerprints are checked against
 * DuckDB running the product's oracle SQL (oracle.py) and, for
 * `text_bpe_tokens`, which has no SQL form, against a recount with an
 * independent merges-replay encoder.
 */
object BatchQueries extends Workload {
  val names: Seq[String] = Seq("q1_pricing_summary", "q3_shipping_priority",
    "q18_large_volume", "op_flatmap", "op_cogroup", "q_heavy_hitters", "op_bloom_join",
    "q_sessionize", "q_hll_distinct", "dedup_minhash", "text_dup_ngram_frac",
    "text_bpe_tokens")
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents")
  val sf = 0.005
  private val pinned = mutable.LinkedHashMap.empty[String, String]
  private var bpeRows: Array[Row] = Array.empty

  private def run(ctx: Ctx, q: String): (Seq[String], Array[Row]) = {
    ctx.spark.catalog.clearCache()
    val df = graft.SparkEntry.queries(q)(ctx.spark, ctx.dataDir)
    (df.columns.toSeq, df.collect())
  }

  /** Nothing to build: set-up is one untimed run of each query, which
    * pins its fingerprint (every timed run must reproduce it). */
  def prepare(ctx: Ctx): Unit = ctx.rec.mark("warmup")(names.foreach { q =>
    val (cols, rows) = run(ctx, q)
    pinned(q) = Fingerprint.ofRows(cols, rows)
    if (q == "text_bpe_tokens") bpeRows = rows
  })

  def round(ctx: Ctx, r: Int): Unit = {
    val rnd = new scala.util.Random(Gen.mix(ctx.seed * 31 + r))
    rnd.shuffle(names).foreach { q =>
      var got: (Seq[String], Array[Row]) = null
      ctx.op("query", q) { got = ctx.rec.call("read", "queries", q)(run(ctx, q)) }
      if (got != null) {
        val fp = Fingerprint.ofRows(got._1, got._2)
        if (fp != pinned(q)) ctx.rec.failLast(s"fingerprint $fp != ${pinned(q)}")
      }
    }
  }

  def verify(ctx: Ctx): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    ctx.extra("fingerprints") = pinned.clone()
    ctx.extra("oracle_sql") = names.flatMap(q => oracle.get(q).map(q -> _)).toMap
    ctx.extra("data_dir") = ctx.dataDir
    verifyBpe(ctx)
  }

  /** n_ws against a whitespace recount of the generated text, and n_bpe
    * against a replay of the learned merges in order, one word at a time. */
  private def verifyBpe(ctx: Ctx): Unit = {
    val docs = graft.Tables.load(ctx.spark, ctx.dataDir, "documents")
    val merges = graft.functions.Bpe.train(docs, "text").merges
    val texts = docs.select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def encodeLen(word: String): Int = {
      var syms: Vector[String] = word.codePoints().toArray.toVector
        .map(cp => new String(Character.toChars(cp))) :+ "</w>"
      merges.foreach { case (a, b) =>
        if (syms.length > 1) {
          val out = Vector.newBuilder[String]
          var j = 0
          while (j < syms.length) {
            if (j + 1 < syms.length && syms(j) == a && syms(j + 1) == b) { out += a + b; j += 2 }
            else { out += syms(j); j += 1 }
          }
          syms = out.result()
        }
      }
      syms.length
    }
    val bad = bpeRows.iterator.map { r =>
      val words = texts(r.getAs[Long]("doc_id")).split("\\s+").filter(_.nonEmpty)
      (r, words.length.toLong, words.map(encodeLen).sum.toLong)
    }.filter { case (r, nws, nbpe) => r.getAs[Long]("n_ws") != nws || r.getAs[Long]("n_bpe") != nbpe }
      .take(1).toSeq
    ctx.check("text_bpe_tokens.recount",
      bad.isEmpty && bpeRows.length == texts.size,
      bad.headOption.map(_._1.toString).getOrElse(s"${bpeRows.length} rows vs ${texts.size} docs"))
  }
}
