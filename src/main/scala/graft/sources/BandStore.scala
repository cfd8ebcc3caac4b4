package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.TextFns

/** The MinHash LSH band table (doc_id, hs, band, key) at rest — the
  * near-dup member of the layout family ([[DocStore]], [[TermStore]],
  * [[VecStore]], [[MediaStore]]).
  *
  * Every near-dup pass (q34 pair generation, q38 cluster resolution,
  * q110's per-ingest near tier, q101's first-seen maintenance) starts by
  * shingle-hashing and minhashing the WHOLE corpus — per session, per
  * ingest batch. That projection is the dominant cost of the pass and it
  * is once-per-ingest by nature: a document's band buckets never change
  * after landing. This store lands the exact verified construction
  * ([[TextFns.minhashBandFrame]] — the q34/q110/q101 oracles hash-check
  * it) bucketed AND sorted by (band, key), so:
  *
  *  - the q34/q38 candidate self-join runs bucketed-scan × bucketed-scan
  *    on its exact join keys — ZERO exchange on either side;
  *  - a per-ingest batch probe (q110's near tier) joins its few bands
  *    against a co-located scan — the corpus is never reshuffled;
  *  - the q101 first-seen aggregation groups by the bucket key the scan
  *    is already clustered on — no exchange.
  *
  * Storage: `hs` (the packed shingle-hash set, the scoring input) is
  * denormalized per band row — a factor-of-MinHashBands (4) duplication
  * of a field that is itself far smaller than the text it summarizes, in
  * exchange for candidate scoring that needs no extra join back to a
  * signature table. `buckets` sizes the parallelism of every later pass.
  */
object BandStore {
  /** THE band construction, shared verbatim with the in-session paths so
    * the store can never drift from the verified semantics. */
  def bandFrame(docs: DataFrame): DataFrame =
    TextFns.minhashBandFrame(docs)

  def saveBucketed(docs: DataFrame, table: String, buckets: Int,
                   path: Option[String] = None): Unit =
    Stores.landBucketed(bandFrame(docs), table, buckets, Seq("band", "key"), path)

  /** Per-ingest increment: band the BATCH only and append it into the
    * existing store — O(batch) work per sync, corpus never re-hashed
    * (a document's band buckets never change after landing, so append
    * is exact, not approximate). Re-run-safe (the TermStore discipline):
    * the batch anti-joins on doc_id against one column-pruned scan of
    * the landed table, so a retried sync never double-appends — and
    * duplicated band rows are answer-changing here (pair multiplicities
    * feed q110's best-match window). `buckets` must match the landing. */
  def appendBatch(docsBatch: DataFrame, table: String, buckets: Int): Unit = {
    val s = docsBatch.sparkSession
    import org.apache.spark.sql.functions.col
    // guarded landed read (the DocStore.appendBatch rationale): a
    // half-swapped directory must fail the sync, not double-append
    val fresh = docsBatch.join(
      Stores.guardedTable(s, table).select(col("doc_id")),
      Seq("doc_id"), "left_anti")
      .localCheckpoint()
    Stores.appendBucketed(bandFrame(fresh), table, buckets, Seq("band", "key"))
    graft.operators.Graph.release(fresh)
  }

  /** Loads through [[Stores.guardedTable]]: fails fast inside a
    * compaction window instead of scanning a half-swapped store. */
  def loadBucketed(s: SparkSession, table: String): DataFrame =
    Stores.guardedTable(s, table)
}
