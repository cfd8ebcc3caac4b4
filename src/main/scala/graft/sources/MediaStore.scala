package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.multimodal.Media

/** Perceptual hashes at rest — the media member of the at-rest layout
  * family ([[DocStore]], [[TermStore]], [[VecStore]]).
  *
  * Every perceptual query re-DECODES the media column per session; at
  * 100 TB the decode is orders of magnitude more expensive than the
  * ~16 B/row of hash it produces, and it is exactly the once-per-ingest
  * cost the store family amortizes. Each modality lands through the
  * VERIFIED construction — [[Media.imagePHash]], [[Media.audioEnvelope64]],
  * [[Media.videoFrameHashes]] are called here verbatim, so an at-rest
  * hash can never drift from the in-session one — bucketed (and sorted)
  * by doc_id like the rest of the family: the per-doc joins and
  * first-seen aggregations the consumers run stay co-located scan-side
  * work, and each consumer subtree plans its own column-pruned bucketed
  * scan (the TermStore lesson: zero session state beats any cache form
  * for a table orders smaller than the corpus it indexes).
  *
  * Sessions point retrieval at a store with
  * `spark.graft.mediaStore = "<corpusDir>=<tablePrefix>"`; the consumers
  * read `<tablePrefix>_img` / `_aud` / `_vid` / `_vidf` behind the same
  * corpusDir guard the text/vector stores use (MediaStoreSpec pins
  * result parity and that the store path plans no decode).
  */
object MediaStore {
  /** Land still-image perceptual hashes: (doc_id, ph_hi, ph_lo). */
  def saveImage(media: DataFrame, table: String, buckets: Int,
                path: Option[String] = None): Unit =
    Stores.landBucketed(Media.imagePHash(media), table, buckets,
      Seq("doc_id"), path)

  /** Land audio envelope hashes: (doc_id, n_samples, ph_hi, ph_lo). */
  def saveAudio(media: DataFrame, table: String, buckets: Int,
                path: Option[String] = None): Unit =
    Stores.landBucketed(Media.audioEnvelope64(media), table, buckets,
      Seq("doc_id"), path)

  /** Land exact-tier audio comparison fingerprints:
    * (doc_id, n_samples, afp) — q121's 16-window construction
    * ([[Media.audioFingerprint]]), distinct from the 64-window envelope
    * the near tier uses. */
  def saveAudioFingerprint(media: DataFrame, table: String, buckets: Int,
                           path: Option[String] = None): Unit =
    Stores.landBucketed(Media.audioFingerprint(media), table, buckets,
      Seq("doc_id"), path)

  /** Land per-frame video hashes: (doc_id, frame_idx, fh_hi, fh_lo). */
  def saveVideo(media: DataFrame, table: String, buckets: Int,
                path: Option[String] = None): Unit =
    Stores.landBucketed(Media.videoFrameHashes(media), table, buckets,
      Seq("doc_id"), path)

  // ---- Incremental sync (the Stores.appendBucketed discipline) ----------
  // A sync decodes the BATCH only and hash-routes it into the existing
  // bucket scheme — O(batch) work where a re-land re-decodes the corpus,
  // and media is the store where that gap is widest by construction:
  // decode dominates the ~16 B/row it produces. The perceptual hash of a
  // landed document never changes (it is a pure function of the bytes),
  // so append is EXACT, not approximate: appended ≡ full-land content
  // (StoreAppendSpec pins it per modality, consumers included).
  // Re-run-safe (the TermStore discipline): the batch anti-joins on
  // doc_id against one column-pruned bucketed scan of the landed table
  // BEFORE the decode — a retried sync neither double-appends (duplicate
  // hash rows change the consumers' group counts) nor re-decodes the
  // already-landed rows. `buckets` must match the landing, like every
  // appendBatch in the family.
  private def appendFresh(mediaBatch: DataFrame, table: String, buckets: Int)
                         (build: DataFrame => DataFrame): Unit = {
    val s = mediaBatch.sparkSession
    import org.apache.spark.sql.functions.col
    // guarded landed read (the DocStore.appendBatch rationale): a
    // half-swapped directory must fail the sync, not double-append.
    // The checkpoint (which severs the landed-table read from the append
    // writing into the same table) sits AFTER the decode, on the hash
    // frame — ~16 B/row — not before it (r13 advice): a pre-decode
    // checkpoint pinned the batch's raw image/audio/video BYTES in the
    // block manager for the whole sync, exactly the memory pressure a
    // 100 TB media batch cannot afford, to sever a read the post-decode
    // frame severs just as well. The decode has ONE consumer either way.
    val hashed = build(mediaBatch.join(
      Stores.guardedTable(s, table).select(col("doc_id")),
      Seq("doc_id"), "left_anti"))
      .localCheckpoint()
    Stores.appendBucketed(hashed, table, buckets, Seq("doc_id"))
    graft.operators.Graph.release(hashed)
  }

  /** Sync an image batch into an existing `_img`/`_imgx` table. */
  def appendImage(mediaBatch: DataFrame, table: String, buckets: Int): Unit =
    appendFresh(mediaBatch, table, buckets)(Media.imagePHash)

  /** Sync an audio batch into an existing `_aud` envelope table. */
  def appendAudio(mediaBatch: DataFrame, table: String, buckets: Int): Unit =
    appendFresh(mediaBatch, table, buckets)(Media.audioEnvelope64)

  /** Sync an audio batch into an existing `_audx` exact-tier table. */
  def appendAudioFingerprint(mediaBatch: DataFrame, table: String,
                             buckets: Int): Unit =
    appendFresh(mediaBatch, table, buckets)(Media.audioFingerprint)

  /** Sync a video batch into an existing `_vid`/`_vidf` table. */
  def appendVideo(mediaBatch: DataFrame, table: String, buckets: Int): Unit =
    appendFresh(mediaBatch, table, buckets)(Media.videoFrameHashes)

  /** Loads through [[Stores.guardedTable]]: fails fast inside a
    * compaction window instead of scanning a half-swapped store. */
  def loadBucketed(s: SparkSession, table: String): DataFrame =
    Stores.guardedTable(s, table)
}
