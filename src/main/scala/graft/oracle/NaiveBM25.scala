package graft.oracle

import graft.analyze.CodeTokenizer
import graft.query.{BM25, ServedTopK}

/** Independent single-machine BM25 scorer — the test stand-in for "the
  * reference query set the migration tool's Elasticsearch index would
  * return" (the reference itself is only an ES client:
  * /root/reference/Services/ElasticSearchService.cs:150-229). No Spark.
  *
  * Used by ScalaTest golden suites for rank-identity: docIDs AND scores
  * must match the engine exactly (deterministic tie-break: score desc,
  * docId asc; summation in ascending term order).
  */
object NaiveBM25 {

  final case class Hit(docId: Long, score: Double)

  /** Score `query` against `docs` = (docId, content); returns top-k. */
  def topK(docs: Seq[(Long, String)], query: String, k: Int = 10,
           k1: Double = 1.2, b: Double = 0.75): Seq[Hit] = {
    val tokenized: Seq[(Long, Array[String])] =
      docs.map { case (id, c) => (id, CodeTokenizer.tokenize(c)) }
    val n = tokenized.size.toLong
    val avgdl = if (n == 0) 0.0 else tokenized.map(_._2.length.toLong).sum.toDouble / n
    val terms = CodeTokenizer.queryTerms(query)
    // df per query term
    val dfMap: Map[String, Long] = terms.map { t =>
      t -> tokenized.count(_._2.contains(t)).toLong
    }.toMap
    val hits = tokenized.flatMap { case (id, toks) =>
      val dl = toks.length.toLong
      // ascending term order, like the engine's sort_array aggregation
      val ws = terms.flatMap { t =>
        val tf = toks.count(_ == t).toLong
        val df = dfMap(t)
        if (tf > 0 && df > 0) Some(BM25.weight(tf, dl, df, n, avgdl, k1, b)) else None
      }
      if (ws.isEmpty) None
      else Some(Hit(id, ws.foldLeft(0.0)(_ + _)))
    }
    hits.sortBy(h => (-h.score, h.docId)).take(k)
  }

  /** Phrase (adjacency, slop 0): docs containing the analyzed terms
    * consecutively in order, scored over the phrase's distinct terms
    * with corpus-wide stats. */
  def phraseTopK(docs: Seq[(Long, String)], phrase: String, k: Int = 10,
                 k1: Double = 1.2, b: Double = 0.75): Seq[Hit] = {
    val terms = CodeTokenizer.tokenize(phrase).toSeq
    if (terms.isEmpty) return Seq.empty
    val tokenized = docs.map { case (id, c) => (id, CodeTokenizer.tokenize(c)) }
    val n = tokenized.size.toLong
    val avgdl = if (n == 0) 0.0 else tokenized.map(_._2.length.toLong).sum.toDouble / n
    val distinctSorted = terms.distinct.sorted
    val dfMap = distinctSorted.map(t => t -> tokenized.count(_._2.contains(t)).toLong).toMap
    val hits = tokenized.flatMap { case (id, toks) =>
      val matches = toks.length >= terms.length &&
        toks.sliding(terms.length).exists(_.toSeq == terms)
      if (!matches) None
      else {
        val dl = toks.length.toLong
        val ws = distinctSorted.map { t =>
          BM25.weight(toks.count(_ == t).toLong, dl, dfMap(t), n, avgdl, k1, b)
        }
        Some(Hit(id, ws.foldLeft(0.0)(_ + _)))
      }
    }
    hits.sortBy(h => (-h.score, h.docId)).take(k)
  }

  /** match_phrase_prefix at slop 0: docs holding the leading analyzed
    * terms consecutively, then one of the first `maxExpansions` corpus
    * terms (in Spark's string order) that start with the last one;
    * scored over the leading terms' distinct terms only, with
    * corpus-wide stats. */
  def phrasePrefixTopK(docs: Seq[(Long, String)], text: String, maxExpansions: Int, k: Int = 10,
                       k1: Double = 1.2, b: Double = 0.75): Seq[Hit] = {
    val terms = CodeTokenizer.tokenize(text).toSeq
    val (exact, last) = (terms.init, terms.last)
    val tokenized = docs.map { case (id, c) => (id, CodeTokenizer.tokenize(c)) }
    val n = tokenized.size.toLong
    val avgdl = if (n == 0) 0.0 else tokenized.map(_._2.length.toLong).sum.toDouble / n
    val expansions = tokenized.flatMap(_._2).distinct.filter(_.startsWith(last))
      .sorted(ServedTopK.termOrder).take(maxExpansions).toSet
    val scored = exact.distinct.sorted(ServedTopK.termOrder)
    val dfMap = scored.map(t => t -> tokenized.count(_._2.contains(t)).toLong).toMap
    val hits = tokenized.flatMap { case (id, toks) =>
      val matches = toks.indices.exists(i => i + exact.length < toks.length &&
        toks.slice(i, i + exact.length).toSeq == exact && expansions(toks(i + exact.length)))
      if (!matches) None
      else {
        val dl = toks.length.toLong
        val ws = scored.map(t => BM25.weight(toks.count(_ == t).toLong, dl, dfMap(t), n, avgdl, k1, b))
        Some(Hit(id, ws.foldLeft(0.0)(_ + _)))
      }
    }
    hits.sortBy(h => (-h.score, h.docId)).take(k)
  }

  /** One ES bool query, brute force over every doc — the reference for
    * bool, match (OR: `should` alone; AND: `must`), match_phrase and
    * query_string alike. Roles hold analyzed, distinct terms. A doc
    * matches when it holds every `must` and `filter` term, no `mustNot`
    * term, at least `msm` distinct `should` terms (by default 0 when
    * there is a must or filter term, else 1) and at least one must,
    * filter or should term, and when each phrase (terms, slop, required)
    * occurs in it if and only if it is required. A phrase occurs when
    * its terms sit at increasing positions, in order, spanning at most
    * (m - 1) + slop positions past the first. A match scores BM25 over
    * the must and should terms it holds, summed in ascending term order,
    * with corpus-wide stats; a filter term scores nothing. */
  def boolTopK(docs: Seq[(Long, String)], must: Seq[String] = Nil, should: Seq[String] = Nil,
               filter: Seq[String] = Nil, mustNot: Seq[String] = Nil, msm: Option[Int] = None,
               phrases: Seq[(Seq[String], Int, Boolean)] = Nil, k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75): Seq[Hit] = {
    val tokenized = docs.map { case (id, c) => (id, CodeTokenizer.tokenize(c)) }
    val n = tokenized.size.toLong
    val avgdl = if (n == 0) 0.0 else tokenized.map(_._2.length.toLong).sum.toDouble / n
    val minShould = msm.getOrElse(if (must.nonEmpty || filter.nonEmpty) 0 else 1)
    val scored = (must ++ should).distinct.sorted(ServedTopK.termOrder)
    val dfMap = scored.map(t => t -> tokenized.count(_._2.contains(t)).toLong).toMap
    def occurs(toks: Array[String], ts: Seq[String], slop: Int): Boolean = {
      // offset j at a position after `prev`, below start + m + slop
      def from(j: Int, prev: Int, end: Int): Boolean = j == ts.length ||
        (prev + 1 until math.min(toks.length, end)).exists(p => toks(p) == ts(j) && from(j + 1, p, end))
      ts.nonEmpty && toks.indices.exists(s => toks(s) == ts.head && from(1, s, s + ts.length + slop))
    }
    val hits = tokenized.flatMap { case (id, toks) =>
      val has = toks.toSet
      val matches = must.forall(has) && filter.forall(has) && !mustNot.exists(has) &&
        should.count(has) >= minShould && (must ++ filter ++ should).exists(has) &&
        phrases.forall { case (ts, slop, required) => occurs(toks, ts, slop) == required }
      if (!matches) None
      else {
        val dl = toks.length.toLong
        val ws = scored.filter(has).map(t => BM25.weight(toks.count(_ == t).toLong, dl, dfMap(t), n, avgdl, k1, b))
        Some(Hit(id, ws.foldLeft(0.0)(_ + _)))
      }
    }
    hits.sortBy(h => (-h.score, h.docId)).take(k)
  }
}
