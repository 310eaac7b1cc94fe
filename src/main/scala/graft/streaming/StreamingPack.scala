package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming sequence packing — the STATEFUL streaming twin of batch
  * `pack_chunks`: documents arrive on a stream and are assigned to
  * fixed token-budget training chunks the moment they arrive, by a
  * per-source running token offset held in keyed state
  * (`flatMapGroupsWithState` — the state-machine rung, like
  * StreamFunnel, where a `foreachBatch` of a stateless kernel such as
  * `dsirScore` or `probeScores` is the stateless rung).
  *
  * Semantics match the batch assignment under per-key ordered delivery
  * (docs arrive in doc_id order within a source — the keyed-partition
  * ordering contract of SURVEY §2.7 ST2; within a micro-batch rows are
  * doc_id-sorted before folding): chunk = (cum_before) DIV budget,
  * exactly the batch `(cum − n_tok) DIV budget` start-lands rule, so
  * the union of per-batch assignments over a split stream equals the
  * one-shot batch `packedDocs` output (StreamingPackSpec pins it).
  *
  * State per source is ONE long (the running token total) — bounded by
  * |sources|, not by data volume, so no timeout/eviction is needed; a
  * production deployment that retires sources can add an idle timeout
  * without touching the fold.
  */
object StreamingPack {

  case class PackDoc(source: String, doc_id: Long, n_tok: Long)
  case class PackState(cum: Long)
  case class PackAssign(source: String, doc_id: Long, n_tok: Long,
                        chunk_id: Long)

  private implicit val stateEnc: Encoder[PackState] = Encoders.product[PackState]
  private implicit val outEnc: Encoder[PackAssign] = Encoders.product[PackAssign]
  private implicit val strEnc: Encoder[String] = Encoders.STRING

  /** Assign each arriving doc to its chunk; works identically on a
    * streaming or batch Dataset (batch = every group final). */
  def assign(docs: Dataset[PackDoc],
             budget: Long = graft.queries.CurationQueries.ChunkBudget)
  : Dataset[PackAssign] = {
    docs.groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        packFlatMap(budget) _)
  }

  private[streaming] def packFlatMap(budget: Long)(
      source: String,
      docs: Iterator[PackDoc],
      state: GroupState[PackState]): Iterator[PackAssign] = {
    var cum = state.getOption.map(_.cum).getOrElse(0L)
    val out = List.newBuilder[PackAssign]
    // micro-batch iterators carry no order guarantee → doc_id-sort;
    // cross-batch order is the ingest contract
    docs.toSeq.sortBy(_.doc_id).foreach { d =>
      out += PackAssign(source, d.doc_id, d.n_tok, cum / budget)
      cum += d.n_tok
    }
    state.update(PackState(cum))
    out.result().iterator
  }
}
