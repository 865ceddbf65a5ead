package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension entry point: makes graft's native expressions
  * available in ANY session via config, no code changes —
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * — the standard deployment path for engine extensions
  * (SparkSessionExtensions; SURVEY.md §7.3). The same registrations are
  * available programmatically through
  * [[graft.functions.GraftFunctions.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    // every native expression, from the ONE builder table GraftFunctions
    // keeps (adding an expression there exposes it on both surfaces —
    // the registry stays in lockstep by construction): cosine_sim,
    // minhash_sig, sorted_intersect_count, simhash60, rolling_hashes,
    // repetition_stats, ngram_hash60, srp_code, hash60 — so a SQL-text
    // user reaches every sketch/dedup/ANN hot-loop primitive with no
    // DataFrame code (the reference has no SQL surface at all; this is
    // beyond-parity like the q76 TopK route).
    graft.functions.GraftFunctions.builders.foreach { case (name, b) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.GraftFunctions", name),
        b))
    }
    // whole-operator extension: plans graft.plans.TopKPerKeyNode as
    // partial/final bounded-heap execs (no sort, map-side combine)
    e.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    // single-pass distributed prefix sum (ops.PrefixSum's kernel):
    // one range exchange, tiny totals pass, sorted streaming carry
    e.injectPlannerStrategy(_ => graft.plans.PrefixSumStrategy)
    // optimizer extension: window top-n written the plain DataFrame way
    // rewrites to the operator above automatically
    e.injectOptimizerRule(_ => graft.plans.RankFilterToTopK)
    // fork-free local checkpoints: the builder runs once per session
    // state, before its first query is analyzed, and binds NoForkFs as
    // the file: FileContext that Spark's CheckpointFileManager writes
    // offset/commit logs and state through; the rule itself checks nothing
    e.injectCheckRule { session =>
      graft.streaming.NoForkFs.bind(session)
      _ => ()
    }
  }
}
