package graft.corpus

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Structured-Streaming front end for the corpus daily mode (round-15
  * verdict #7): a document STREAM drives [[CorpusPipeline.runIncremental]]
  * one micro-batch at a time via `foreachBatch`, rolling the
  * [[CorpusPipeline.CorpusState]] forward between triggers exactly the
  * way the batch chain rolls it between days — each trigger's rolled
  * state commits to a FRESH directory under `stateRoot` (the rotation
  * [[CorpusPipeline.CorpusState.write]]'s writeGuard prescribes: never
  * overwrite a directory the state still reads), is reloaded so the next
  * batch runs off persisted tables instead of an ever-deepening lazy
  * union, and only then is the previous batch's directory retired.
  *
  * Trigger granularity is an execution knob, not semantics: N triggers of
  * one slice each produce the identical corpus to the N-step batch chain
  * over the same slices (StreamingIngestSpec gates streamed ≡ chained via
  * the chain leg's exact multiset fingerprint; `graft.Bench stream corpus`
  * measures it at fixture scale). The append-only doc_id contract is the
  * stream's responsibility (ingestion sequence numbers), enforced loudly
  * by runIncremental's existing require per batch — a source that replays
  * out of order fails the batch rather than corrupting the state.
  *
  * Restart semantics: foreachBatch is at-least-once, so a batch may
  * replay after a failure. The state directory is keyed by batchId and
  * written ONCE: a replayed batch whose directory already holds a
  * committed meta table short-circuits to loading it (the idempotent
  * re-commit), so the checkpoint's offset log and the state rotation
  * stay consistent without a transactional store. (A restart in a NEW
  * application re-attaches with `initial` = the last committed state
  * directory's load — the same fresh-application story the bucketed
  * layout proves for the batch mode.)
  *
  * Embeddings ride the documents when the caller supplies an
  * `embeddingsOf` projector (columns → (doc_id, embedding)); otherwise
  * the semantic probe is skipped per batch, matching runIncremental's
  * optional-embeddings contract.
  */
object StreamingIngest {

  final case class BatchStat(
      batchId: Long, sliceRows: Long, appendedRows: Long, wallSec: Double)

  /** Live view over a running (or finished) streamed ingest. */
  final class Handle private[StreamingIngest] (
      initial: CorpusPipeline.CorpusState, val stateRoot: String) {
    @volatile private[StreamingIngest] var _state: CorpusPipeline.CorpusState = initial
    @volatile private[StreamingIngest] var _dir: Option[String] = None
    private[StreamingIngest] val statsB =
      new java.util.concurrent.ConcurrentLinkedQueue[BatchStat]()
    private[StreamingIngest] var _query: StreamingQuery = _

    /** The rolled state after the most recently committed batch. */
    def state: CorpusPipeline.CorpusState = _state
    /** Directory of the most recently committed state (None before batch 0). */
    def stateDir: Option[String] = _dir
    def query: StreamingQuery = _query
    def stats: Seq[BatchStat] = {
      import scala.jdk.CollectionConverters._
      statsB.iterator().asScala.toSeq
    }
  }

  /** Start the streamed ingest: `stream` must be a STREAMING DataFrame
    * carrying (doc_id long, lang string, text string). Returns a
    * [[Handle]] whose `query` is already started; the caller owns
    * trigger/source configuration on `stream` and the query lifecycle. */
  def start(
      stream: DataFrame,
      initial: CorpusPipeline.CorpusState,
      stateRoot: String,
      checkpoint: String,
      quality: Seq[QualityRule] = Nil,
      embeddingsOf: Option[DataFrame => DataFrame] = None): Handle = {
    require(stream.isStreaming, "StreamingIngest.start needs a streaming DataFrame")
    val handle = new Handle(initial, stateRoot)

    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val t0 = System.nanoTime()
          val dir = s"$stateRoot/state_$batchId"
          val metaPath = new org.apache.hadoop.fs.Path(s"$dir/meta")
          val fs = metaPath.getFileSystem(spark.sessionState.newHadoopConf())
          val prev = handle._dir
          val (loaded, sliceRows) =
            if (fs.exists(metaPath)) {
              // at-least-once replay of an already-committed batch: the
              // state for this batchId is on disk — load, don't recompute
              // (recomputing would double-append against the rolled state
              // and trip the append-only require)
              (CorpusPipeline.CorpusState.load(spark, dir), 0L)
            } else {
              val docs = batch.select("doc_id", "lang", "text")
              val r = CorpusPipeline.runIncremental(
                docs, handle._state, quality = quality,
                embeddings = embeddingsOf.map(f => f(batch)))
              val rows = r.manifest.find(_.stage == "packed_sharded")
                .map(_.rows).getOrElse(0L)
              CorpusPipeline.CorpusState.write(r.state.get, dir)
              (CorpusPipeline.CorpusState.load(spark, dir), rows)
            }
          handle._state = loaded
          handle._dir = Some(dir)
          // retire yesterday's directory only AFTER today's state
          // committed and reloaded (crash between the two leaves both on
          // disk — safe; the replay path above makes the re-run cheap).
          // Never touch a directory outside our rotation root: the
          // initial state may live anywhere.
          prev.filter(p => p.startsWith(stateRoot) && p != dir).foreach { p =>
            val hp = new org.apache.hadoop.fs.Path(p)
            hp.getFileSystem(spark.sessionState.newHadoopConf()).delete(hp, true)
          }
          val appended = handle._state.corpus.count()
          handle.statsB.add(BatchStat(
            batchId, sliceRows, appended, (System.nanoTime() - t0) / 1e9))
        }
        ()
      }
      .start()
    handle._query = q
    handle
  }
}
