package graft.tools

import java.nio.file.{Files, Paths}

import graft.gen.{BalancedCheckpoint, Log2Partitioner}

/** Merge several band-campaign checkpoints (independent generator
  * streams, [[graft.lab.BandCampaign]]'s `seed` argument) into one
  * TRAINING-ONLY checkpoint file that [[graft.estimate.Evaluate]]
  * consumes unchanged.
  *
  * Results are concatenated in argument order and deduplicated by SQL
  * text keeping the FIRST measurement — so re-merging after the primary
  * stream grows never flips an existing label, and the CRC-byte holdout
  * (which hashes only the SQL) assigns a query to the same split no
  * matter which stream produced it. Bucket counts are recomputed from
  * the merged population. The header keeps the first checkpoint's seed
  * but a merged file must never resume a generator: the seed stream of
  * the concatenation is not any single campaign's stream. The merged
  * `iterations` is deliberately set to -1 so a resume attempt is
  * conspicuous in the header.
  *
  * Usage: `CheckpointMerge <out.cp> <in1.cp> <in2.cp> [...]`
  */
object CheckpointMerge {

  def merge(cps: Seq[BalancedCheckpoint]): BalancedCheckpoint = {
    // runtimes are only comparable within ONE compute budget (scale
    // factor + core count, BandCampaign's checkpoint naming) — before
    // the header carried it, that invariant lived solely in filenames,
    // so a merge could silently mix a c2 and a c32 population. Refuse
    // when recorded budgets differ; warn when a pre-round-10 input
    // carries none (nothing to check against).
    val budgets = cps.flatMap(_.budget).distinct
    require(budgets.size <= 1,
      s"refusing to merge checkpoints from different compute budgets: " +
        budgets.mkString(", "))
    if (cps.exists(_.budget.isEmpty) && budgets.nonEmpty)
      System.err.println("[merge] WARNING: some inputs carry no budget " +
        s"header; assuming they match ${budgets.head}")
    val seen = scala.collection.mutable.HashSet.empty[String]
    val merged = cps.flatMap(_.results).filter { case (sql, _) => seen.add(sql) }
    val part = new Log2Partitioner()
    val counts = Array.fill(part.k)(0L)
    merged.foreach { case (_, rt) =>
      counts(math.min(part.partition(rt), counts.length - 1)) += 1
    }
    BalancedCheckpoint(cps.head.seed, iterations = -1,
      produced = merged.size, counts.toSeq, merged, lastSql = None,
      budget = budgets.headOption)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: CheckpointMerge <out.cp> <in1.cp> [in2.cp ...]")
    val out = args.head
    val cps = args.tail.toSeq.map { p =>
      val cp = BalancedCheckpoint.deserialize(Files.readString(Paths.get(p)))
      println(s"[merge] $p: ${cp.results.size} results " +
        s"(${cp.results.count(_._2 > 0)} usable), seed=${cp.seed}")
      cp
    }
    val m = merge(cps)
    Files.writeString(Paths.get(out), m.serialize)
    println(s"[merge] wrote ${m.results.size} deduped results " +
      s"(counts ${m.counts.mkString(",")}) to $out")
  }
}
