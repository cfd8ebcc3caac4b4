package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{NormalizeExpr, TextFns}

/** Content-fingerprinted document storage — the at-rest layout for the
  * dedup family at 100 TB.
  *
  * Exact dedup, dedup-group assignment and decontamination all key on a
  * normalized content fingerprint (the hash-groupBy the q30/q37 oracles
  * verify). From a plain store, every run of every such pass re-shuffles
  * the whole corpus on that key — and in a training-data pipeline these
  * passes run per ingest batch. Landing documents bucketed (and sorted)
  * by the fingerprint makes the dedup groupBy a co-located scan-side
  * aggregation (zero exchange), and a fingerprint equi-join between two
  * stores with the SAME bucket count (training corpus × eval benchmark)
  * co-locates both sides. The fingerprint is the same native rolling-hash
  * expression q37 hash-checks against the DuckDB oracle, so the stored
  * key is verified semantics, not a parallel implementation.
  */
object DocStore {
  /** THE content-fingerprint expression — [[TextFns.contentFingerprint]]
    * over NFC-NORMALIZED text (q131's operator, [[NormalizeExpr]]): real
    * ingest sources mix Unicode forms (web crawls compose, macOS-origin
    * content decomposes), and a byte-level key would split documents
    * that render identically. `spark.graft.docStore.nfc=false` opts a
    * session out (e.g. to match a legacy store's raw keys); the default
    * is on. Identity on all-ASCII text — the codegen'd isNormalized
    * fast path — so composed-form corpora key byte-identically either
    * way.
    *
    * EVERY fp-producing surface must route through here — the landing
    * key ([[fingerprint]]), the in-session probes (q110's batch, q128's
    * ingest batch, q37's cold branch), the streaming manifests
    * ([[graft.streaming.DocStreams.shardManifest]]) — because a probe
    * computing a raw fingerprint against a store that landed normalized
    * keys silently misses every mixed-form exact duplicate (the ASCII
    * fixtures can't see the drift; DocStoreSpec's mixed-form case can).
    * The DuckDB oracles mirror via [[sqlFp]]. */
  def fpExpr(s: SparkSession, text: Column): Column = {
    val nfcOn = s.conf.get("spark.graft.docStore.nfc", "true").toBoolean
    TextFns.contentFingerprint(
      if (nfcOn) NormalizeExpr.nfcNormalize(text) else text)
  }

  /** DuckDB twin of [[fpExpr]] — DuckDB's `nfc_normalize` is the
    * engine-side [[NormalizeExpr]]'s oracle twin, the q131 pairing.
    *
    * Consults the SAME conf as [[fpExpr]] (r13 advice: this used to bake
    * nfc unconditionally, so a session using the documented legacy-store
    * opt-out failed every fingerprint-family oracle instead of getting a
    * matching raw-key oracle), read from the active session at CALL
    * time. Oracle SQL strings are built once per JVM when a module's
    * registry first evaluates — so the opt-out must be set before the
    * registry is touched, the same session-wide granularity the
    * store-compatibility knob has always had. */
  def sqlFp(e: String): String = {
    val nfcOn = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .forall(_.conf.get("spark.graft.docStore.nfc", "true").toBoolean)
    TextFns.sqlContentFingerprint(if (nfcOn) s"nfc_normalize($e)" else e)
  }

  /** documents + `fp` content fingerprint ([[fpExpr]]). */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.drop("fp").withColumn("fp",
      fpExpr(docs.sparkSession, col("text")))

  /** Land `docs` as a parquet table bucketed and sorted on the
    * fingerprint. `buckets` sizes the parallelism of every later dedup
    * pass reading this store — pick ~2-4× the cluster's cores at the
    * target scale. */
  def saveBucketed(docs: DataFrame, table: String, buckets: Int,
                   path: Option[String] = None): Unit =
    Stores.landBucketed(fingerprint(docs), table, buckets, Seq("fp"), path)

  /** Per-ingest increment: fingerprint the BATCH only and append it into
    * the existing store — O(batch) work per sync, the corpus never
    * re-fingerprinted. Re-run-safe (the TermStore discipline): the batch
    * is anti-joined on doc_id against one column-pruned bucketed scan of
    * the landed store, so a retried sync — the family's operational
    * reality at 100 TB — never double-appends (StoreAppendSpec pins the
    * blind re-run). `buckets` must match the landing. */
  def appendBatch(docsBatch: DataFrame, table: String, buckets: Int): Unit = {
    val s = docsBatch.sparkSession
    // checkpointed: severs the landed-table read from the append writing
    // into the same table, and the anti-join runs once, not per-consumer.
    // The landed read goes through the compaction guard: a retried sync
    // against a crashed compactor's half-swapped directory would see its
    // in-flight bucket's doc_ids as missing and silently re-append them
    // — permanent duplicates once the rollback restores the old files.
    val fresh = docsBatch.join(
      Stores.guardedTable(s, table).select(col("doc_id")),
      Seq("doc_id"), "left_anti")
      .localCheckpoint()
    Stores.appendBucketed(fingerprint(fresh), table, buckets, Seq("fp"))
    graft.operators.Graph.release(fresh)
  }

  /** Loads through [[Stores.guardedTable]]: fails fast inside a
    * compaction window instead of scanning a half-swapped store. */
  def loadBucketed(s: SparkSession, table: String): DataFrame =
    Stores.guardedTable(s, table)
}
