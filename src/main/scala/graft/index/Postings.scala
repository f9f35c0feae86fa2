package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.analyze.CodeTokenizer

/** Uncompressed postings construction — the declarative half of the
  * index build. This replaces the inverted-index construction the
  * reference delegates to the Elasticsearch server (the reference only
  * scroll-reads what ES indexed: /root/reference/Services/ElasticSearchService.cs:150-229).
  *
  * Scale notes (100 TB / 10^12 docs):
  *  - `doclen` is computed BEFORE the explode and carried through it, so
  *    BM25 length normalization never needs a docId->doclen join against
  *    a table too big to broadcast.
  *  - tf is a partial-aggregating hash `groupBy` (map-side combine free
  *    from Catalyst); the only shuffle is on (term, doc_id), which the
  *    segment builder re-uses.
  *  - everything below stays inside WholeStageCodegen (no UDFs).
  */
object Postings {

  /** (doc_id, doclen, tokens) — one row per doc. `idCol` must be unique
    * per document (the reference's `elasticsearch_id TEXT UNIQUE`
    * invariant, /root/reference/Services/PostgreSQLService.cs:114). */
  def tokenized(docs: DataFrame, idCol: Column, contentCol: Column): DataFrame =
    docs.select(idCol.cast("long").as("doc_id"),
      CodeTokenizer.tokensColFast(contentCol).as("tokens"))
      .withColumn("doclen", size(col("tokens")).cast("long"))

  /** (doc_id, doclen) per document (post-analysis token count). */
  def doclens(docs: DataFrame, idCol: Column, contentCol: Column): DataFrame =
    tokenized(docs, idCol, contentCol).select("doc_id", "doclen")

  /** Postings (term, doc_id, tf, doclen). ZERO shuffles: tf is computed
    * per document inside the tokenizer expression (a corpus-wide
    * (term, docId) hash aggregation would shuffle every token for a
    * per-document quantity). */
  def build(docs: DataFrame, idCol: Column, contentCol: Column): DataFrame =
    docs.select(idCol.cast("long").as("doc_id"),
        CodeTokenizer.tokenTfCol(contentCol).as("t"))
      .select(col("doc_id"), col("t.doclen").as("doclen"),
        explode(col("t.pairs")).as("p"))
      .select(col("p.term").as("term"), col("doc_id"), col("doclen"),
        col("p.tf").as("tf"))

  /** POSITIONAL postings (term, doc_id, doclen, tf, positions) — the
    * payload phrase/proximity queries need. Same zero-shuffle shape as
    * [[build]]: positions are a per-document quantity computed inside
    * the tokenizer expression ([[CodeTokenizer.tokenPosCol]]), ascending
    * indices into the kept token sequence; tf == size(positions). */
  def buildPositional(docs: DataFrame, idCol: Column, contentCol: Column): DataFrame =
    docs.select(idCol.cast("long").as("doc_id"),
        CodeTokenizer.tokenPosCol(contentCol).as("t"))
      .select(col("doc_id"), col("t.doclen").as("doclen"),
        explode(col("t.pairs")).as("p"))
      .select(col("p.term").as("term"), col("doc_id"), col("doclen"),
        col("p.tf").as("tf"), col("p.positions").as("positions"))

  /** Document frequency per term: (term, df). */
  def docFreq(postings: DataFrame): DataFrame =
    postings.groupBy("term").agg(count(lit(1)).as("df"))
}
