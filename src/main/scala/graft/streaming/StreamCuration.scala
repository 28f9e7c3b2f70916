package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Raw document entering the streaming curation gate. */
case class DocRow(doc_id: Long, text: String)

/** One verdict per arriving document: token count after tokenization,
  * whether it passed the length gate, whether it was a first-seen
  * duplicate (on the SCRUBBED text — redaction runs before dedup, the
  * d30 pipeline order), and the final keep decision. */
case class CurationVerdict(doc_id: Long, n_tokens: Int,
    passed_gate: Boolean, is_dup: Boolean, kept: Boolean)

/** STREAMING curation composite — the online form of the d30 pipeline's
  * first three stages (scrub → token gate → exact first-seen dedup),
  * emitting a verdict row per document as it arrives:
  *
  *  - scrub + token count are per-row map work (no state);
  *  - the dedup key is md5 of the SCRUBBED text, so two documents that
  *    differ only in redacted terms are the same document — exactly the
  *    batch composite's semantics;
  *  - per-key state is ONE long (the canonical doc_id) — O(distinct
  *    scrubbed texts) state, the same bound as s04;
  *  - documents failing the gate get a verdict but neither enter state
  *    nor claim a canonical: a short fragment must not shadow the
  *    full-length document that arrives later.
  *
  * Within a micro-batch group, processing is pinned to doc_id order, so
  * verdicts are deterministic under batch re-splits (StreamCurationSpec
  * proves equality with the batch composite across splits).
  */
object StreamCuration {

  def verdicts(docs: Dataset[DocRow], blocklist: Seq[String],
      minTokens: Int): Dataset[CurationVerdict] = {
    import docs.sparkSession.implicits._
    val terms = blocklist.toSet
    docs
      .map { d =>
        val toks = d.text.trim.split("\\s+")
        val scrubbed = toks
          .map(t => if (terms(t)) "[REDACTED]" else t).mkString(" ")
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(scrubbed.getBytes("UTF-8"))
          .map(b => f"${b & 0xff}%02x").mkString
        (d.doc_id, toks.length, h)
      }
      .groupByKey(_._3)
      .flatMapGroupsWithState[Long, CurationVerdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, it: Iterator[(Long, Int, String)],
            state: GroupState[Long]) =>
          var canon = state.getOption.getOrElse(Long.MinValue)
          val out = it.toSeq.sortBy(_._1).map { case (id, n, _) =>
            val gated = n >= minTokens
            if (!gated) CurationVerdict(id, n, passed_gate = false,
              is_dup = false, kept = false)
            else if (canon == Long.MinValue) {
              canon = id
              CurationVerdict(id, n, passed_gate = true,
                is_dup = false, kept = true)
            } else CurationVerdict(id, n, passed_gate = true,
              is_dup = true, kept = false)
          }
          if (canon != Long.MinValue) state.update(canon)
          out.iterator
      }
  }
}
