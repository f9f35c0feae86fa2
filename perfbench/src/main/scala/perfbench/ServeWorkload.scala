package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.index.SegmentBuilder
import graft.query.{BM25, QueryDsl, Wand}

/** One ranked hit list: (qid, rank, doc_id, score). */
object Hits {
  type T = Seq[(Int, Long, Long, Double)]
  def of(rows: Array[Row]): T =
    rows.toSeq.map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
  def byQid(df: DataFrame): Map[Int, T] = of(df.collect()).groupBy(_._1)
}

/** The serve request mix, drawn from the seed and two of the corpus'
  * documents. */
object ServeMix {
  sealed trait Req { def slot: Int; def kind: String; def text: String }
  final case class Term(slot: Int, text: String) extends Req { def kind = "term" }
  final case class Phrase(slot: Int, text: String) extends Req { def kind = "phrase" }
  /** op: prefix | fuzzy | wildcard | regexp */
  final case class Expand(slot: Int, op: String, text: String) extends Req { def kind = "expand" }

  private def w(r: Random, lo: Int, hi: Int) = "w" + (lo + r.nextInt(hi - lo))

  /** The Zipf head and mid terms of the mix, drawn from the seed alone. */
  def headTerms(seed: Long): (String, String, String) = {
    val r = new Random(seed)
    (w(r, 1, 4), w(r, 100, 1000), w(r, 1, 4))
  }

  /** The identifier with the largest k in a document's text: rare (df
    * of a few), yet known to occur. */
  def rarest(text: String): String =
    text.split(' ').filter(_.matches("w[0-9]+")).maxBy(_.drop(1).toInt)

  /** Head, mid, rare, absent and multi-term queries; `texts` are two
    * corpus documents the rare terms come from. */
  def terms(seed: Long, texts: Seq[String]): Seq[Term] = {
    val (head, mid, head2) = headTerms(seed)
    val r = new Random(seed ^ 0xab5L)
    val queries = Seq(
      head, mid, rarest(texts(0)),
      "w" + (131072 + r.nextInt(100000)), // absent: k < 2^17 always
      s"$head2 ${w(r, 100, 1000)} ${rarest(texts(1))}")
    queries.zipWithIndex.map { case (t, i) => Term(i, t) }
  }

  def expands(seed: Long, from: Int): Seq[Expand] = {
    val r = new Random(seed ^ 0x5eedL)
    def d = r.nextInt(10)
    Seq(
      Expand(from, "prefix", s"w${1 + r.nextInt(9)}$d"),
      Expand(from + 1, "fuzzy", w(r, 1000, 10000)),
      Expand(from + 2, "wildcard", s"w${1 + r.nextInt(9)}?$d*"),
      Expand(from + 3, "regexp", s"w${1 + r.nextInt(9)}[0-9]$d[0-9]*"))
  }

  /** Two doc ids whose texts the phrase and rare-term queries come from. */
  def sampleDocs(seed: Long, docs: Long): Seq[Long] = {
    val r = new Random(seed ^ 0xf00dL)
    Seq.fill(2)((r.nextDouble() * docs).toLong)
  }

  /** A 2-word and a 3-word phrase of adjacent base words. */
  def phrases(seed: Long, texts: Seq[String], from: Int): Seq[Phrase] = {
    val r = new Random(seed ^ 0xbeefL)
    val stop = graft.analyze.CodeTokenizer.Stopwords.toSet
    texts.zip(Seq(2, 3)).zipWithIndex.map { case ((t, len), i) =>
      val ws = t.split(' ').take(Corpus.BasePerDoc)
      val starts = (0 to ws.length - len).filter(s => ws.slice(s, s + len).forall(!stop(_)))
      val s = if (starts.isEmpty) 0 else starts(r.nextInt(starts.size))
      Phrase(from + i, ws.slice(s, s + len).mkString(" "))
    }
  }

  /** The anchored regex a wildcard pattern means (QueryDsl.wildcardTopK's
    * translation). */
  def wildcardRegex(p: String): String = "^" + p.flatMap {
    case '*' => ".*"
    case '?' => "."
    case c if c.isLetterOrDigit => c.toString
    case c => java.util.regex.Pattern.quote(c.toString)
  } + "$"
}

/** `serve`: the index is built during set-up; the loop sends a fixed,
  * seeded mix of term (block-max WAND), phrase and term-expansion
  * requests, one at a time, through one warm Wand.Handle and
  * BM25.PhraseHandle. */
final class ServeWorkload(ctx: Ctx) extends Workload(ctx) {
  import ServeMix._
  import ctx.{cfg, probe, spark}

  val Docs: Long = 30000L
  val cycleSeconds = 8.0
  private val corpusDir = ctx.dir("serve-corpus")
  private val idx = ctx.dir("serve-index")
  private var handle: Wand.Handle = _
  private var phrase: BM25.PhraseHandle = _
  private var mix: Seq[Req] = Nil
  private var handleInitS = 0.0

  /** Builds the index, once: set-up runs the whole write path, which
    * costs too much to repeat within a run. */
  def setup(): Unit = {
    Corpus.write(spark, 0, Docs, ctx.seed, corpusDir)
    SegmentBuilder.ingest(spark, spark.read.parquet(corpusDir), col("doc_id"), col("text"), idx, cfg)
    SegmentBuilder.buildAll(spark, idx, cfg, concurrency = ctx.cores)
    val t0 = System.nanoTime()
    handle = Wand.handleFor(spark, idx, cfg)
    phrase = BM25.phraseHandleFor(spark, idx, cfg)
    handleInitS = (System.nanoTime() - t0) / 1e9
    val texts = {
      val ids = sampleDocs(ctx.seed, Docs)
      val sample = Corpus.sampleTexts(spark, corpusDir, ids)
      ids.map(sample)
    }
    val ts = terms(ctx.seed, texts)
    val ex = expands(ctx.seed, ts.size)
    mix = ts ++ phrases(ctx.seed, texts, ts.size + ex.size) ++ ex
  }

  /** One pass over the mix fills the handles' caches and compiles every
    * request plan before timing. */
  override def warmup(): Unit = mix.foreach(run)

  private val postingsAcc = spark.sparkContext.collectionAccumulator[java.lang.Long]("postings")
  private val fetched = mutable.Map.empty[Int, (Long, Int)].withDefaultValue((0L, 0))

  private def run(q: Req): Hits.T = q match {
    case Term(slot, t) =>
      val acc = if (probe.on) { postingsAcc.reset(); postingsAcc } else null
      val hits = probe.call("query.wand")(Hits.of(handle.topK(Seq(slot -> t), acc).collect()))
      if (acc != null) {
        var n = 0L
        acc.value.forEach(x => n += x)
        val (f, c) = fetched(slot)
        fetched(slot) = (f + n, c + 1)
      }
      hits
    case Phrase(slot, t) =>
      probe.call("query.phrase")(Hits.of(phrase.topK(Seq(slot -> t)).collect()))
    case Expand(slot, op, t) =>
      val qs = Seq(slot -> t)
      probe.call("query.expand")(Hits.of((op match {
        case "prefix" => QueryDsl.prefixTopK(spark, idx, qs, cfg = cfg)
        case "fuzzy" => QueryDsl.fuzzyTopK(spark, idx, qs, cfg = cfg)
        case "wildcard" => QueryDsl.wildcardTopK(spark, idx, qs, cfg = cfg)
        case "regexp" => QueryDsl.regexpTopK(spark, idx, qs, cfg = cfg)
      }).collect()))
  }

  private def key(q: Req) = s"${q.kind} slot ${q.slot} <${q.text}>"

  def cycle(c: Int): Unit = mix.foreach(q => ctx.op(q.kind)(run(q)).foreach(ctx.respond(key(q), _)))

  /** The term dictionary with df, straight from the segment table. */
  private def dictionary(): Map[String, Long] =
    spark.read.parquet(s"$idx/segments").groupBy("term").agg(sum("n_postings"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def levenshtein(a: String, b: String): Int = {
    var prev = Array.range(0, b.length + 1)
    for (i <- 1 to a.length) {
      val cur = new Array[Int](b.length + 1)
      cur(0) = i
      for (j <- 1 to b.length)
        cur(j) = math.min(math.min(cur(j - 1), prev(j)) + 1,
          prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      prev = cur
    }
    prev(b.length)
  }

  /** (engine expansion, brute-force expansion) for one expand request. */
  private def expansions(e: Expand, dict: Map[String, Long]): (Seq[String], Seq[String]) = {
    val cap = QueryDsl.MaxExpansions
    def rx(p: String) = {
      val m = java.util.regex.Pattern.compile(p)
      (handle.expandRegexBatch(Seq(p), cap)(p),
        dict.keys.filter(t => m.matcher(t).find()).toSeq.sorted.take(cap))
    }
    e.op match {
      case "prefix" =>
        (handle.expandPrefixBatch(Seq(e.text), cap)(e.text),
          dict.keys.filter(_.startsWith(e.text)).toSeq.sorted.take(cap))
      case "fuzzy" =>
        val d = QueryDsl.autoFuzziness(e.text)
        (handle.expandFuzzyBatch(Seq(e.text -> d), cap)(e.text),
          dict.toSeq.filter { case (t, _) =>
              math.abs(t.length - e.text.length) <= d && levenshtein(t, e.text) <= d }
            .sortBy { case (t, df) => (-df, t) }.map(_._1).take(cap))
      case "wildcard" => rx(wildcardRegex(e.text))
      case "regexp" => rx("^(?:" + e.text + ")$")
    }
  }

  def verify(): Unit = {
    val corpus = spark.read.parquet(corpusDir)
    val dict = dictionary()
    // slot -> why its first response (and every equal one) is wrong
    val wrong = mutable.LinkedHashMap.empty[Int, String]
    val expanded = mix.collect { case e: Expand =>
      val (engine, brute) = expansions(e, dict)
      if (engine != brute)
        wrong(e.slot) = s"expansion ${e.op} <${e.text}>: engine ${engine.take(5)} != brute force ${brute.take(5)}"
      e.slot -> brute.mkString(" ")
    }
    val termLike = mix.collect { case t: Term => t.slot -> t.text } ++ expanded.filter(_._2.nonEmpty)
    val want = Hits.byQid(BM25.topK(spark, corpus, col("doc_id"), col("text"), termLike, cfg)) ++
      Hits.byQid(BM25.phraseTopK(spark, corpus, col("doc_id"), col("text"),
        mix.collect { case p: Phrase => p.slot -> p.text }, cfg))
    for (q <- mix; got <- ctx.first[Hits.T](key(q)); exp = want.getOrElse(q.slot, Nil) if got != exp)
      wrong.getOrElseUpdate(q.slot,
        s"${q.kind} slot ${q.slot} <${q.text}>: ${got.take(2)} != corpus path ${exp.take(2)}")
    for (q <- mix; why <- wrong.get(q.slot)) ctx.fail(why, ctx.sameAsFirst(key(q)))
    ctx.report("corpus_docs") = Docs.toString
    ctx.report("vocabulary") = dict.size.toString
    ctx.report("top_term_df_share") = (dict.values.max.toDouble / Docs).toString
    ctx.report("serve_ranges") = handle.serveRanges.toString
    ctx.report("mix") = Json.obj(mix.map(q => s"${q.slot}" -> Json.str(s"${q.kind}: ${q.text}")))
  }

  def instrument(): Unit = {
    ctx.perLayer("query.handle_init_s") = (handleInitS, "s")
    // df lookup per term query, and the WAND fetch ratio it gives
    val termQs = mix.collect { case t: Term => t }
    var fetchedSum = 0L; var dfSum = 0L
    for (t <- termQs) {
      val df = probe.call("query.df_lookup")(handle.dfOf(graft.analyze.CodeTokenizer.queryTerms(t.text)))
      val (f, c) = fetched(t.slot)
      fetchedSum += f; dfSum += df.values.sum * c
    }
    val lookups = probe.layer("query.df_lookup")
    ctx.perLayer("query.df_lookup_s") = (lookups.perCall(lookups.wallS), "s")
    val wand = probe.layer("query.wand")
    ctx.perLayer("query.wand_exec_s_per_query") = (wand.perCall(wand.execMs / 1e3), "s")
    ctx.perLayer("query.wand_busy_cores") = (wand.busyCores, "cores")
    ctx.perLayer("query.wand_input_bytes_per_query") = (wand.perCall(wand.inputBytes.toDouble), "bytes")
    ctx.perLayer("query.wand_shuffle_bytes_per_query") = (wand.perCall(wand.shuffleWriteBytes.toDouble), "bytes")
    ctx.perLayer("query.wand_jobs_per_request") = (wand.perCall(wand.jobs.toDouble), "count")
    ctx.perLayer("query.wand_tasks_per_request") = (wand.perCall(wand.tasks.toDouble), "count")
    ctx.perLayer("query.wand_postings_fetched_per_query") = (wand.perCall(fetchedSum.toDouble), "count")
    ctx.perLayer("query.wand_fetch_amplification") =
      (if (dfSum == 0) 0.0 else fetchedSum.toDouble / dfSum, "ratio")
    val ph = probe.layer("query.phrase")
    ctx.perLayer("query.phrase_exec_s_per_query") = (ph.perCall(ph.execMs / 1e3), "s")
    ctx.perLayer("query.phrase_input_bytes_per_query") = (ph.perCall(ph.inputBytes.toDouble), "bytes")
    ctx.perLayer("query.phrase_jobs_per_request") = (ph.perCall(ph.jobs.toDouble), "count")
    // the dictionary walk alone, once per expansion pattern
    val cap = QueryDsl.MaxExpansions
    val sizes = mix.collect { case e: Expand =>
      probe.call("query.expand_dict")(e.op match {
        case "prefix" => handle.expandPrefixBatch(Seq(e.text), cap)(e.text)
        case "fuzzy" => handle.expandFuzzyBatch(Seq(e.text -> QueryDsl.autoFuzziness(e.text)), cap)(e.text)
        case "wildcard" => val p = wildcardRegex(e.text); handle.expandRegexBatch(Seq(p), cap)(p)
        case "regexp" => val p = "^(?:" + e.text + ")$"; handle.expandRegexBatch(Seq(p), cap)(p)
      }).size.toDouble
    }
    val ed = probe.layer("query.expand_dict")
    ctx.perLayer("query.expand_dict_s") = (ed.perCall(ed.wallS), "s")
    ctx.perLayer("query.expand_terms_per_pattern") = (Stats.median(sizes), "count")
    ctx.perLayer("query.expand_input_bytes") = (ed.perCall(ed.inputBytes.toDouble), "bytes")
    val blocks = IndexFiles.blocks(spark, idx, termQs.flatMap(t => graft.analyze.CodeTokenizer.queryTerms(t.text)).distinct)
    ctx.perLayer("index.decode_mpostings_per_s") = (IndexFiles.decodeRate(blocks), "Mpostings/s")
  }

  def metrics(): Unit = {
    ctx.requestMetrics("serve")
    for (k <- Seq("term", "phrase", "expand")) ctx.report(s"${k}_p50_ms") = Stats.median(ctx.latencies(k)).toString
    ctx.report("handle_init_s") = handleInitS.toString
  }
}
