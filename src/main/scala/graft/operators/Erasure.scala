package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.spark.Materialize

/** Right-to-erasure propagation into DERIVED artifacts.
  *
  * [[Quality.eraseKeys]] rewrites the corpus itself, but at 100 TB the
  * artifacts that outlive the rows are the derived indexes: the persisted
  * LSH band index ([[Dedup.bandIndex]]), the per-group corpus signatures
  * ([[Dedup.corpusSignatures]]), and the IVF inverted lists
  * ([[IvfIndex]]). Grams, signatures and codes derived from an erased
  * document are still personal-data derivatives — a compliant delete must
  * reach them WITHOUT rebuilding petabyte-scale indexes from scratch.
  *
  * Repair cost model (the point of each function):
  *  - band index: one anti join ∝ |index|, zero re-hashing — band rows
  *    are per-document, so deletion is exact row removal;
  *  - corpus signatures: a MinHash union is a min-aggregate, so erased
  *    minima cannot be subtracted — but only GROUPS that held an erased
  *    doc need re-aggregation; untouched groups keep their stored
  *    signature verbatim. Repair cost ∝ affected groups, not corpus.
  *    (At 100 TB pick the signature granularity — e.g. (lang, shard) —
  *    so "affected group" is bounded.)
  *  - IVF lists: entry removal by vec_id; centroids are NOT retrained
  *    (a served quantizer is a learned constant — retraining on every
  *    delete would invalidate all stored assignments; periodic retrain
  *    is a separate batch concern). Quantization is row-local
  *    (qmin/qrange/codes per row), so removal is exact here too.
  *
  * Each repair is proven equal to the ground truth — the same artifact
  * rebuilt from the erased corpus — by [[erasureContract]]
  * (`e8b_erasure_propagation`, the d5b/d4c driver-witnessed pattern).
  */
object Erasure {

  /** Delete a subject's band rows from a persisted LSH band index.
    * Exactly equivalent to rebuilding the index from the erased corpus:
    * [[Dedup.bandIndex]] emits rows per document independently, so
    * removing a document's rows IS the rebuilt index (contract-proven).
    * Delete lists are human-scale — the anti join broadcasts.
    */
  def repairBandIndex(index: DataFrame, deleteDocs: DataFrame): DataFrame =
    Quality.eraseKeys(index, "doc_id", deleteDocs)

  /** Delete a subject's entries from IVF inverted lists (float or
    * quantized layout — anything keyed by `vec_id`). Centroids stay:
    * remaining assignments and codes are unchanged by other rows'
    * deletion, so the repaired lists equal a rebuild-with-the-same-
    * centroids from the erased embedding set (contract-proven).
    */
  def repairIvfLists(lists: DataFrame, deleteVecs: DataFrame): DataFrame =
    Quality.eraseKeys(lists, "vec_id", deleteVecs)

  /** Incrementally repair per-group corpus signatures after an erasure:
    * groups untouched by the delete list keep their STORED signature
    * (never re-reads their text); groups that held an erased doc are
    * re-aggregated from the erased corpus. A min-aggregate admits no
    * subtraction, so per-affected-group re-aggregation is the minimal
    * exact repair.
    */
  def repairCorpusSignatures(signatures: DataFrame, corpus: DataFrame,
      deleteDocs: DataFrame, groupCol: String = "lang",
      numHashes: Int = 32): DataFrame = {
    val affected = corpus
      .join(broadcast(deleteDocs), Seq("doc_id"), "left_semi")
      .select(col(groupCol).as("_affected_group")).distinct()
    // NULL-SAFE (<=>) group matching throughout: corpusSignatures' groupBy
    // emits a NULL-key group, and a plain equi-join never matches NULL —
    // an erased doc with a null group would otherwise leave its STALE
    // signature in `kept` (erased minima retained) while the recompute
    // skipped the group: exactly the compliance failure this module
    // exists to prevent
    val kept = signatures.join(broadcast(affected),
      col(groupCol) <=> col("_affected_group"), "left_anti")
    val recomputed = Dedup.corpusSignatures(
      Quality.eraseKeys(
        corpus.join(broadcast(affected),
          col(groupCol) <=> col("_affected_group"), "left_semi"),
        "doc_id", deleteDocs),
      numHashes)
    kept.unionByName(recomputed).orderBy(groupCol)
  }

  /** Driver-witnessed CONTRACT (e8b): for a deterministic delete list,
    * each incremental repair equals the same artifact REBUILT from the
    * erased corpus, and no erased key survives in any repaired artifact.
    * Hash-seeded signatures make the artifacts themselves un-oracle-able
    * (d3/d5 precedent); the equality booleans are oracle-checkable
    * against a TRUE-emitting oracle — a wrong anti-join key, a stale
    * kept-group signature, or a centroid retrain would flip a column and
    * fail the driver gate.
    */
  def erasureContract(documents: DataFrame, embeddings: DataFrame,
      numHashes: Int = 32, bands: Int = 8, ivfK: Int = 8): DataFrame = {
    // deterministic, content-addressed delete lists (the e8/t7 primitive:
    // one md5 nibble = 1/16 of subjects), derivable on any engine
    val deleteDocs = documents.filter(TextOps.hexNibble("doc_id") === 7)
      .select("doc_id")
    val deleteVecs = embeddings.filter(TextOps.hexNibble("vec_id") === 7)
      .select("vec_id")
    val erasedDocs = Quality.eraseKeys(documents, "doc_id", deleteDocs)
    val erasedVecs = Quality.eraseKeys(embeddings, "vec_id", deleteVecs)

    // each artifact below feeds its diff plus a count or cleanliness
    // probe — materialize once (the nearDupPairs candidate rationale).
    // The six artifact builds are INDEPENDENT DAGs, so their
    // checkpoint jobs overlap from a small thread pool instead of running
    // back-to-back — the next build's tasks back-fill executors freed by
    // the current build's tail (guide §2.6; actions are only sequential
    // because driver code calls them sequentially). 3 in flight is
    // enough to fill the tail without fighting for executors.
    def mats(dfs: Seq[DataFrame]): Seq[DataFrame] = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try Await.result(
        Future.sequence(dfs.map(df => Future(Materialize(df)))),
        Duration.Inf)
      finally pool.shutdown()
    }

    // IVF centroids: the repair-equals-rebuild equality holds for ANY
    // fixed quantizer, so centroid quality is irrelevant — use the
    // scan-bound deterministic sampler, not iterative k-means training
    val centroids = IvfIndex.sampleCentroids(embeddings, ivfK)

    val Seq(bandsRepaired, bandsRebuilt, sigsRepaired, sigsRebuilt,
        ivfRepaired, ivfRebuilt) = mats(Seq(
      // band index: incremental repair vs rebuild from the erased corpus
      repairBandIndex(Dedup.bandIndex(documents, numHashes, bands), deleteDocs),
      Dedup.bandIndex(erasedDocs, numHashes, bands),
      // corpus signatures: kept-verbatim + re-aggregated vs full rebuild
      repairCorpusSignatures(
        Dedup.corpusSignatures(documents, numHashes), documents, deleteDocs,
        numHashes = numHashes),
      Dedup.corpusSignatures(erasedDocs, numHashes),
      // IVF quantized lists: entry removal vs re-assign/re-quantize of
      // the erased set under the SAME centroids (derived once, shared)
      repairIvfLists(IvfIndex.quantizedLists(embeddings, centroids), deleteVecs),
      IvfIndex.quantizedLists(erasedVecs, centroids)))

    // multiset equality per artifact: the diff is empty in both directions
    // (catches lost rows AND phantom survivors, incl. duplicates)
    import ContractOps.{diffCounts, oneRow, rowCount}
    oneRow(
      // an empty delete list would pass every equality vacuously — the
      // contract must witness that something was actually erased
      rowCount(deleteDocs, "n_del_docs"),
      rowCount(deleteVecs, "n_del_vecs"),
      rowCount(bandsRebuilt, "n_bands"),
      diffCounts(bandsRepaired, bandsRebuilt, "bands_extra", "bands_missing"),
      rowCount(bandsRepaired.join(broadcast(deleteDocs), Seq("doc_id"),
        "left_semi"), "bands_erased"),
      diffCounts(sigsRepaired, sigsRebuilt, "sigs_extra", "sigs_missing"),
      rowCount(ivfRebuilt, "n_ivf"),
      diffCounts(ivfRepaired, ivfRebuilt, "ivf_extra", "ivf_missing"),
      rowCount(ivfRepaired.join(broadcast(deleteVecs), Seq("vec_id"),
        "left_semi"), "ivf_erased"))
      .select(
        (col("n_del_docs") > 0 && col("n_del_vecs") > 0)
          .as("erasure_nonempty"), // guards a vacuous pass
        (col("n_bands") > 0).as("bands_nonempty"),
        (col("bands_extra") === 0 && col("bands_missing") === 0)
          .as("bands_equal"),
        (col("bands_erased") === 0).as("bands_clean"),
        (col("sigs_extra") === 0 && col("sigs_missing") === 0)
          .as("sigs_equal"),
        (col("n_ivf") > 0).as("ivf_nonempty"),
        (col("ivf_extra") === 0 && col("ivf_missing") === 0).as("ivf_equal"),
        (col("ivf_erased") === 0).as("ivf_clean"))
  }
}
