package graft.estimate

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.gen.BalancedCheckpoint
import graft.model.{DbModel, ModelJson}

/** The one estimator-evaluation main, as the reference scores every
  * family through one `dqo/estimator/evaluate.py:17-106`: trains the named
  * [[Families]] on a measured campaign checkpoint
  * ([[graft.lab.BandCampaign]]) and scores each on its CRC-byte holdout in
  * the reference's bucket space (<=1 s -> bucket 0, partitioner.py:40-46).
  * Reports and the last seed's [[ModelIo]] checkpoints go to `outDir`, by
  * default the checkpoint's own directory, so evaluating another
  * checkpoint never overwrites a committed campaign's artifacts.
  *
  * Usage: `sbt 'runMain graft.estimate.Evaluate <families,...>
  * <checkpoint> <stats.json> [outDir]'`
  */
object Evaluate {

  /** Every family, in run order: the regressors (`v20` is [[Gru4]];
    * `v20cap` retrains it at hidden 96 and 128), the GRU bucket
    * classifier ([[Gru]]) under each training regime, the MLlib
    * baselines, and the GRU classifier's learning curve in n. */
  val Families: Seq[String] = Seq("v20", "v20cap", "treelstm", "relcnn", "mscn",
    "neonet", "plain", "balanced", "balancedSel", "augmented", "augmentedSel",
    "tailweight", "combo", "mlp", "gbt", "curve")

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4, "usage: Evaluate <families,...> " +
      s"<checkpoint> <stats.json> [outDir]; families: ${Families.mkString(",")}")
    val outDir = args.lift(3).getOrElse(Paths.get(args(1)).toAbsolutePath.getParent.toString)
    lazy val session = graft.Session.local(8) // only mlp and gbt need one
    var started = false
    try run(args(0).split(",").map(_.trim).toSet, args(1), args(2), outDir,
      () => { started = true; session })
    finally if (started) session.stop()
  }

  /** The holdout and, per model file written, its seed's in-memory held-out predictions. */
  final case class Evaluated(heldout: Seq[(String, Double)], saved: Map[String, Seq[Double]])

  def run(families: Set[String], cpPath: String, statsPath: String, outDir: String,
          spark: () => SparkSession): Evaluated = {
    val unknown = families -- Families
    require(families.nonEmpty && unknown.isEmpty,
      s"unknown families ${unknown.mkString(",")}; choose from ${Families.mkString(",")}")
    Files.createDirectories(Paths.get(s"$outDir/models"))
    val cp = BalancedCheckpoint.deserialize(Files.readString(Paths.get(cpPath)))
    val r = new Run(ModelJson.fromJson(Files.readString(Paths.get(statsPath))),
      cp.results.filter(_._2 > 0), cpPath, outDir, spark)
    println(s"[evaluate] ${r.usable.size} measured runtimes from $cpPath: " +
      s"train=${r.train.size} heldout=${r.test.size}")
    Families.filter(families).foreach(r.row)
    Evaluated(r.test, r.saved.toMap)
  }

  private val Dim = 203 // padded width of the flat and tree encoder rows
  private val Seeds = Seq(42L, 7L, 1234L)
  // the classifier vote takes 5 seeds: near the band's edge the extra two
  // cut the vote's seed-to-seed spread below the margin being measured
  private val ClsSeeds = Seeds ++ Seq(99L, 2025L)

  private def log2(x: Double): Double = math.log(x) / math.log(2)

  /** One seed's held-out predictions (log2, or a classifier's buckets),
    * its log line around the metrics, and how to save its model. */
  private final case class SeedFit(preds: Seq[Double], head: Double => String,
                                   tail: String = "", save: String => Unit = _ => ())

  private def lossHead(prefix: String, seed: Long, losses: Seq[Double]): Double => String =
    sec => f"$prefix seed=$seed%4d (${sec}%.0f s, loss ${losses.head}%.3f->${losses.last}%.3f)"

  /** One evaluation: the checkpoint's splits, feature caches and rows. */
  private final class Run(db: DbModel, val usable: Seq[(String, Double)], cpPath: String,
                          outDir: String, sparkFor: () => SparkSession) {
    val (test, train) = usable.partition { case (sql, _) => isHoldout(sql) }
    private val actuals = test.map { case (_, rt) => log2(rt) }
    private lazy val spark = sparkFor()
    val saved = scala.collection.mutable.Map.empty[String, Seq[Double]]

    // feature caches keyed by SQL, not thread-safe: a row builds its inputs on
    // the calling thread, and the fits it fans out read only those
    private val flat = scala.collection.mutable.Map.empty[String, Array[Array[Double]]]
    private def enc(sql: String) = flat.getOrElseUpdate(sql, flatRows(db, sql, Dim, None))
    // z-score per dimension over TRAIN timesteps only; the constants ride
    // along in every z-fed model, or a later session would feed raw
    // features to z-fitted weights
    private lazy val norm = Some(zStats(train, Dim, enc))
    private val zFlat = scala.collection.mutable.Map.empty[String, Array[Array[Double]]]
    private def zenc(sql: String) = zFlat.getOrElseUpdate(sql, zNorm(norm, enc(sql)))
    private val trees = scala.collection.mutable.Map.empty[String, Gru4.Tree]
    private def tree(sql: String) = trees.getOrElseUpdate(sql, treeOf(db, sql, Dim, norm))
    private val gerelt = scala.collection.mutable.Map.empty[String, Array[Double]]
    private def fz(sql: String) = gerelt.getOrElseUpdate(sql, Estimator.featurize(db, sql))
    private lazy val trainTrees = train.map { case (sql, rt) => (tree(sql), log2(rt)) }
    private lazy val testTrees = test.map { case (sql, _) => tree(sql) }
    private lazy val classes = usable.map { case (_, rt) => Estimator.runtimeBucket(rt, 0) }.max + 1

    /** The seed-ensemble routine every row runs: fits the seeds
      * concurrently, prints their held-out metrics, saves the last one's
      * model as `models/<model>`, and combines them (regressors: mean
      * log2; classifiers: vote) into `line` and `REPORT_<name>.md`. */
    def ensemble(seeds: Seq[Long], classifier: Boolean, line: Option[String],
                 model: Option[String] = None, report: Option[(String, String)] = None)(
        fit: Long => SeedFit): Seq[Double] = {
      val perSeed = parSeeds(seeds) { seed =>
        val t0 = System.nanoTime()
        val f = fit(seed)
        val sec = (System.nanoTime() - t0) / 1e9
        if (seed == seeds.last) model.foreach { m =>
          f.save(s"$outDir/models/$m")
          saved.synchronized { saved(s"$outDir/models/$m") = f.preds }
        }
        println(f.head(sec) + metrics(f.preds) + f.tail)
        f.preds
      }
      val combined = if (classifier) vote(perSeed) else perSeed.transpose.map(ps => ps.sum / ps.size)
      line.foreach(l => println(l + metrics(combined)))
      report.foreach { case (name, what) => writeReport(name, what, combined, classifier) }
      combined
    }

    private def metrics(preds: Seq[Double]): String = {
      val (acc, mae, f1) = Estimator.evaluate(preds.zip(actuals), minBucket = 0)
      f" | heldout REF-SPACE: acc=$acc%.3f mae=$mae%.3f f1=$f1%.3f"
    }

    /** The evaluate.py artifact over held-out log2 predictions.
      * `refSpace` clamps TRUE runtimes into the space a classifier votes
      * in: raw, every sub-second query would land in a negative bucket no
      * ref-space classifier can emit, contradicting the REF-SPACE
      * metrics. `bothSides` clamps predictions too, as those metrics do. */
    private def writeReport(name: String, what: String, predsLog2: Seq[Double],
                            refSpace: Boolean, bothSides: Boolean = false): Unit = {
      val space = if (!refSpace) "" else "; reference bucket space, <=1 s -> bucket 0" +
        (if (bothSides) " on both sides" else "")
      Report.write(s"$outDir/REPORT_$name.md",
        s"$what — held-out (${test.size} queries; campaign checkpoint n=${usable.size}$space)",
        test.zip(predsLog2).map { case ((sql, rt), p) =>
          val pred = math.pow(2.0, p)
          Report.ResultRow(sql.take(80), if (refSpace) math.max(1.0, rt) else rt,
            if (bothSides) math.max(1.0, pred) else pred)
        })
      println(s"[$name] report artifact: $outDir/REPORT_$name.md")
    }

    // ---- regressors: smooth-L1 on log2 runtime, the reference's own
    // loss and label space (MSCN: the notebook's exp-space loss)
    private def gru4Row(hidden: Int, line: Option[String], model: String,
                        report: Option[(String, String)],
                        head: (Long, Gru4.Fitted) => Double => String) = {
      val (data, testX) = (trainTrees, testTrees)
      ensemble(Seeds, classifier = false, line, Some(model), report) { seed =>
        val f = Gru4.fit(data, Gru4.Config(inputDim = Dim, hidden = hidden,
          headHidden = 32, lr = 2e-3, epochs = 30, batch = 32, seed = seed))
        SeedFit(testX.map(f.predict), head(seed, f), save = ModelIo.saveGru4(_, f, norm))
      }
    }

    // the capacity probe tabulates next to the h=48 row, so it runs it
    private lazy val v20 = {
      val avg = gru4Row(48, Some(s"[v20-ens] 4-traversal mean of ${Seeds.size} seeds"), "gru4.json",
        Some(("v20", "v20 4-traversal GRU ensemble")),
        (seed, f) => lossHead("[v20-1] 4-traversal", seed, f.losses))
      // the README's v20 headline is in the REFERENCE's space: it must trace to an artifact
      writeReport("v20_refspace", "v20 4-traversal GRU ensemble", avg, refSpace = true,
        bothSides = true)
      avg
    }

    /** Capacity probe: data, z-stats, seeds, epochs and loss as the h=48
      * row — hidden width is the ONLY variable, so a deep-tail gap is
      * attributable to capacity alone. */
    private def v20cap(avg48: Seq[Double]): Unit = {
      val sb = new StringBuilder
      sb ++= "# v20 capacity probe — held-out per-bucket MAE(log2)\n\n"
      sb ++= s"Checkpoint: `$cpPath` (train ${train.size} / held-out ${test.size}); 3-seed " +
        "ensembles; identical protocol to the serving h=48 row — hidden width is the only " +
        "variable.\n\n"
      sb ++= "| hidden | acc | MAE(log2) | " + (0 to 8).map(b => s"b$b MAE (n)").mkString(" | ") +
        " |\n|---|---|---|" + (0 to 8).map(_ => "---").mkString("|") + "|\n"
      def row(label: String, preds: Seq[Double]): Unit = {
        val (acc, mae, _) = Estimator.evaluate(preds.zip(actuals), minBucket = 0)
        val perBucket = test.zip(preds).groupBy { case ((_, rt), _) => Estimator.runtimeBucket(rt, 0) }
          .map { case (b, rows) =>
            val errs = rows.map { case ((_, rt), p) => math.abs(p - log2(rt)) }
            b -> (rows.size, errs.sum / errs.size)
          }
        sb ++= f"| $label | $acc%.3f | $mae%.3f | " + (0 to 8).map { b =>
          perBucket.get(b).map { case (n, m) => f"$m%.3f ($n)" }.getOrElse("—")
        }.mkString(" | ") + " |\n"
      }
      row("48 (serving)", avg48)
      for (h <- Seq(96, 128)) row(s"$h", gru4Row(h, None, s"gru4_h$h.json", None,
        (seed, _) => sec => f"[v20cap] h=$h seed=$seed%4d (${sec}%.0f s)"))
      sb ++= "\nServe the wider model (copy `models/gru4_h<h>.json` over `models/gru4.json`) " +
        "only if it cuts bucket-7 MAE >= 30% vs h=48 — otherwise the deep tail is " +
        "data-bound, not capacity-bound.\n"
      Files.writeString(Paths.get(s"$outDir/REPORT_v20_capacity.md"), sb.toString)
    }

    /** A regressor row: 3-seed mean, `models/<name>.json`, `REPORT_<name>.md`. */
    private def regressor[X](name: String, title: String, seedTag: String, ensTag: String,
                             data: Seq[(X, Double)], testX: Seq[X])(
        fit: (Seq[(X, Double)], Long) => (X => Double, Seq[Double], String => Unit)): Unit =
      ensemble(Seeds, classifier = false, Some(s"$ensTag mean of ${Seeds.size} seeds"),
        Some(s"$name.json"), Some((name, title))) { seed =>
        val (predict, losses, save) = fit(data, seed)
        SeedFit(testX.map(predict), lossHead(seedTag, seed, losses), save = save)
      }

    def row(family: String): Unit = family match {
      case "v20" => v20
      case "v20cap" => v20cap(v20)
      case "treelstm" =>
        regressor("treelstm", "child-sum TreeLSTM ensemble", "[tl-1] treelstm", "[tl-ens] treelstm",
          trainTrees, testTrees) { (data, seed) =>
          val f = TreeLstm.fit(data, TreeLstm.Config(inputDim = Dim, hidden = 48, lr = 2e-3,
            epochs = 30, batch = 32, seed = seed))
          (f.predict, f.losses, ModelIo.saveTreeLstm(_, f, norm))
        }
      case "relcnn" =>
        regressor("relcnn", "relcnn convolutional ensemble", "[cnn-1] relcnn", "[cnn-ens] relcnn",
          train.map { case (sql, rt) => (zenc(sql), log2(rt)) }, test.map(t => zenc(t._1))) {
          (data, seed) =>
          val f = RelCnn.fit(data, RelCnn.Config(inputDim = Dim, filters = 64, headHidden = 32,
            lr = 2e-3, epochs = 30, batch = 32, seed = seed))
          (f.predict, f.losses, ModelIo.saveRelCnn(_, f, norm))
        }
      case "mscn" => mscn()
      case "neonet" =>
        // the flat 4-layer MLP both reference Neo variants are, at the
        // reference's Adam lr 1e-4 (neo/v1/model.py:72), epochs scaled up
        // for the smaller campaign
        val feat = usable.map { case (sql, _) => sql -> Estimator.featurizeWith(db, sql, "neo") }.toMap
        regressor("neonet", "Neo flat-MLP ensemble", "[neo1] neonet", "[neo-ens] neonet",
          train.map { case (sql, rt) => (feat(sql), log2(rt)) }, test.map(t => feat(t._1))) {
          (data, seed) =>
          val f = NeoNet.fit(data, NeoNet.Config(inputDim = data.head._1.length, lr = 1e-4,
            epochs = 600, batch = 32, seed = seed))
          (f.predict, f.losses, ModelIo.saveNeo(_, f))
        }
      case "mlp" => mlp()
      case "gbt" => gbt()
      case "curve" => curve()
      case cls => classifier(cls)
    }

    /** SetConv over the raw 0/1 set matrices, no z-score: the reference's input. */
    private def mscn(): Unit = {
      val sets = usable.map { case (sql, _) =>
        sql -> Mscn.sets(graft.encode.SetEncoders.encodeMscn(db, sql)) }.toMap
      val any = graft.encode.SetEncoders.encodeMscn(db, train.head._1)
      val (tf, pf, jf) = (any.tables.head.length, any.predicates.head.length,
        math.max(1, any.joins.headOption.map(_.length).getOrElse(1)))
      val data = train.map { case (sql, rt) => (sets(sql), rt) }
      val testSets = test.map { case (sql, _) => sets(sql) }
      ensemble(Seeds, classifier = false, Some(s"[mscn-ens] setconv mean of ${Seeds.size} seeds"),
        Some("mscn.json"), Some(("mscn", "MSCN SetConv ensemble"))) { seed =>
        val f = Mscn.fit(data, Mscn.Config(tf, pf, jf, hidden = 64, lr = 1e-3, epochs = 60,
          batch = 32, seed = seed))
        val qe = Mscn.qerrorSummary(testSets.map(f.predictSeconds).zip(test.map(_._2)))
        SeedFit(testSets.map(f.predictLog2), lossHead("[mscn1] setconv", seed, f.losses),
          f" | qerr med=${qe("median")}%.2f p95=${qe("p95")}%.2f", ModelIo.saveMscn(_, f))
      }
    }

    // ---- the GRU bucket classifier, one row per training regime
    private def labeled(set: Seq[(String, Double)]) =
      set.map { case (sql, rt) => (zenc(sql), Estimator.runtimeBucket(rt, 0), 1.0) }
    // the val-selected rows keep the BEST-VALIDATION epoch (the
    // reference's lightning val-checkpoint selection) on a CRC-band carve
    // disjoint from the holdout; it comes from the RAW train split, before
    // balancing or augmenting, so no oversampled or permuted copy of a
    // validation query leaks into training
    private lazy val (valRaw, fitRaw) = train.partition { case (sql, _) => isVal(sql) }
    private lazy val notFit = (test ++ valRaw).map(_._1).toSet
    // the tail rows: PER-BUCKET permutation augmentation (a measurement
    // that cost minutes expands into up to 16 free rows) under class
    // weights or a balanced draw, not hundreds of oversampled copies
    private lazy val tailAug = augmentPerBucket(fitRaw, db, capLimit = 16, holdout = notFit)
    private lazy val tailLabeled = labeled(tailAug)

    private def classifier(family: String): Unit = {
      // (label, train rows with loss weights, hidden, epochs, val-selected);
      // the h=64/45-epoch rows scale capacity with the grown campaign,
      // h=48/30 keeps the rows comparable with every earlier round
      val (what, data, hidden, epochs, valSel) = family match {
        case "plain" => ("plain   ", labeled(train), 48, 30, false)
        case "balanced" => ("balanced", labeled(balance(train)), 48, 30, false)
        case "balancedSel" => ("balanced", labeled(balance(fitRaw)), 64, 45, true)
        // tpch_aug analog: the reference's best gerelt F1 comes from the
        // AUGMENTED dataset. The z-score constants stay the unaugmented
        // split's: permutations only reorder rows/subtrees
        case "augmented" =>
          ("augmented", labeled(balance(augment(train, db, 8, test.map(_._1).toSet))), 48, 30, false)
        case "augmentedSel" =>
          ("augmented", labeled(balance(augment(fitRaw, db, 8, notFit))), 64, 45, true)
        case "tailweight" =>
          val cw = classWeights(tailLabeled.map(_._2), classes, cap = 10.0)
          println(s"[gru] tailweight train=${tailAug.size} (from ${fitRaw.size}) " +
            s"class weights=${cw.map(w => f"$w%.2f").mkString(",")}")
          ("tailweight", tailLabeled.map { case (s, l, _) => (s, l, cw(l)) }, 64, 45, true)
        case "combo" =>
          // the balanced draw over the same rows, unweighted (weights on
          // top of a draw that already equalizes bucket mass would square
          // the correction): against tailweight, it separates gradient
          // repetition of the tail rows from loss scaling
          val byLabel = tailLabeled.groupBy(_._2)
          val most = byLabel.values.map(_.size).max
          ("combo    ", byLabel.toSeq.flatMap { case (_, rows) =>
            Iterator.continually(rows).flatten.take(most) }, 64, 45, true)
      }
      val label = s"$what h=$hidden e=$epochs"
      val tailRow = family == "tailweight" || family == "combo"
      val (testX, valSet) = (test.map(t => zenc(t._1)),
        if (valSel) labeled(valRaw).map { case (s, l, _) => (s, l) } else Nil)
      // the augmented h=48 row is the band-comparison flagship: persisted
      // (completing the six-family checkpoint set) and reported
      val (model, report) = family match {
        case "augmented" => (Some("gru.json"), Some(("gru",
          s"GRU bucket classifier, augmented train, ${ClsSeeds.size}-seed vote")))
        case "tailweight" => (None, Some(("tailweight", "GRU bucket classifier, per-bucket-" +
          s"augmented train + class-weighted loss, ${ClsSeeds.size}-seed vote")))
        case _ => (None, None)
      }
      ensemble(ClsSeeds, classifier = true, Some(s"[vote] $label seeds=${ClsSeeds.size}"),
        model, report) { seed =>
        val cfg = Gru.Config(inputDim = Dim, hidden = hidden, classes = classes, lr = 2e-3,
          epochs = epochs, batch = 32, seed = seed)
        val (f, ep, valF1) =
          if (valSel) Gru.fitValSelectedWeighted(data, cfg, valSet)
          else (Gru.fit(data.map { case (s, l, _) => (s, l) }, cfg), epochs, Double.NaN)
        require(ep >= 1, s"val selection never improved on init (seed $seed)")
        // the tail rows note the selected epoch in the metric line
        val head =
          if (valSel && tailRow) (sec: Double) =>
            f"[gru1] $label seed=$seed%4d (${sec}%.0f s, best epoch $ep, val f1=$valF1%.3f)"
          else {
            if (valSel)
              println(f"[gru1] $label seed=$seed%4d best epoch $ep/$epochs (val f1=$valF1%.3f)")
            lossHead(s"[gru1] $label", seed, f.losses)
          }
        SeedFit(testX.map(f.predict(_).toDouble), head, save = ModelIo.saveGru(_, f, norm))
      }
    }

    // ---- the MLlib baselines over the gerelt feature vector
    /** MLP bucket classifier: widths beyond 64×32 and a 3-seed vote (fits
      * on ~1k rows are seed-noisy; the vote removes variance no single
      * wider net can). Balanced in the MLP's OWN labels (rounded log2). */
    private def mlp(): Unit = {
      val (testX, session) = (test.map { case (sql, _) => fz(sql) }, spark)
      for ((label, set) <- Seq("plain" -> train, "balanced" -> balance(train));
           hidden <- Seq(Seq(32), Seq(64), Seq(128), Seq(64, 32), Seq(128, 64), Seq(96, 48))) {
        val data = set.map { case (sql, rt) => (fz(sql), rt) }
        val what = f"$label%-8s hidden=${hidden.mkString("x")}%-6s"
        ensemble(Seeds, classifier = true, Some(s"[vote] $what seeds=${Seeds.size}")) { seed =>
          val m = Estimator.trainMlpOnFeatures(session, data, hidden = hidden, seed = seed)
          SeedFit(testX.map(m.predictBucket(_).toDouble), _ => f"[mlp1] $what seed=$seed%4d")
        }
      }
    }

    /** GBT on log2 runtime: the learning curve over measurement-order
      * prefixes (if it climbs with n, the band gap is sample count, not
      * the model), then capacity grids on the ref-space balanced and the
      * plain train, the latter in the diagnostic bucket space too. */
    private def gbt(): Unit = {
      val (testX, session) = (test.map { case (sql, _) => fz(sql) }, spark)
      def fit(set: Seq[(String, Double)], maxIter: Int, maxDepth: Int)(
          head: Estimator.Trained => String, tail: Estimator.Trained => String = _ => ""): Unit = {
        val data = set.map { case (sql, rt) => (fz(sql), rt) }
        ensemble(Seq(42L), classifier = false, None) { seed =>
          val m = Estimator.trainOnFeatures(session, data, maxIter, seed, maxDepth)
          SeedFit(testX.map(m.predictLog2), _ => head(m), tail(m))
        }
      }
      for (k <- Seq(train.size / 8, train.size / 4, train.size / 2, train.size * 3 / 4,
                    train.size).distinct)
        fit(train.take(k), 80, 4)(_ => f"[curve] n=$k%3d")
      // the balanced generator still yields a bucket-0-heavy workload, so
      // bucket-0 targets dominate the squared loss; cyclic oversampling
      // reweights it the way the reference's 100k campaign was balanced
      val balanced = balance(train, refBucket)
      for (maxIter <- Seq(40, 80); maxDepth <- Seq(4, 5, 6))
        fit(balanced, maxIter, maxDepth)(_ => f"[balanced] iter=$maxIter%3d depth=$maxDepth " +
          s"(train ${train.size}->${balanced.size})")
      def preds(m: Estimator.Trained, split: Seq[(String, Double)]) =
        split.map { case (sql, rt) => (m.predictLog2(fz(sql)), log2(rt)) }
      for (maxIter <- Seq(15, 40, 80); maxDepth <- Seq(4, 5, 6))
        fit(train, maxIter, maxDepth)({ m =>
          val (acc, mae, f1) = Estimator.evaluate(preds(m, test))
          f"[retrain] iter=$maxIter%3d depth=$maxDepth " +
            f"| heldout diag: acc=$acc%.3f mae=$mae%.3f f1=$f1%.3f"
        }, { m =>
          val (acc, _, f1) = Estimator.evaluate(preds(m, train), minBucket = 0)
          f" | train ref: acc=$acc%.3f f1=$f1%.3f"
        })
    }

    /** The GRU classifier's learning curve (`LEARNING_CURVE.md`) on six
      * growing PREFIXES of the measurement order, always scored on the
      * SAME holdout: a per-prefix holdout would confound data volume with
      * test-set drift. */
    private def curve(): Unit = {
      val rows = (1 to 6).map(_ / 6.0).map { frac =>
        val prefix = usable.take(math.max(1, (usable.size * frac).toInt))
        val tr = prefix.filterNot { case (sql, _) => isHoldout(sql) }
        // z-scored over THIS prefix's train, as a campaign stopped at n would be
        val (m, s) = zStats(tr, Dim, enc)
        val z = zApply(m, s) _
        val data = balance(tr).map { case (sql, rt) => (z(enc(sql)), Estimator.runtimeBucket(rt, 0)) }
        val seqs = test.map { case (sql, _) => z(enc(sql)) }
        val voted = ensemble(Seeds, classifier = true, None) { seed =>
          val f = Gru.fit(data, Gru.Config(inputDim = Dim, hidden = 48, classes = classes, lr = 2e-3,
            epochs = 30, batch = 32, seed = seed))
          SeedFit(seqs.map(f.predict(_).toDouble),
            sec => f"[curve-1] n=${prefix.size}%5d seed=$seed%4d (${sec}%.0f s)")
        }
        val (acc, mae, f1) = Estimator.evaluate(voted.zip(actuals), minBucket = 0)
        println(f"[curve] n=${prefix.size}%5d train=${tr.size}%5d acc=$acc%.3f mae=$mae%.3f f1=$f1%.3f")
        f"| ${prefix.size} | ${tr.size} | $classes | $acc%.3f | $mae%.3f | $f1%.3f |\n"
      }
      // the class count and holdout support stamp what macro-F1 averages
      // over: the bucket space grows as deeper labels arrive
      val support = test.groupBy { case (_, rt) => Estimator.runtimeBucket(rt, 0) }
        .view.mapValues(_.size).toSeq.sorted.map { case (c, s) => s"$c: $s" }
      Files.writeString(Paths.get(s"$outDir/LEARNING_CURVE.md"),
        "# GRU bucket-classifier learning curve (band campaign)\n\n" +
        s"Holdout fixed at ${test.size} queries (CRC byte < 64 over the full\n" +
        "checkpoint); train = measurement-order prefix minus holdout;\n" +
        "bucket-balanced, 3-seed vote; reference bucket space.\n\n" +
        "| n (prefix) | train | classes | heldout acc | heldout MAE (buckets) | heldout macro-F1 |\n" +
        "|---|---|---|---|---|---|\n" + rows.mkString +
        s"\nHoldout composition (class: support): ${support.mkString(", ")}.\n" +
        "`classes` is the bucket-space size the macro-F1 denominator\n" +
        "averages over — rows minted under different class counts are\n" +
        "not directly comparable (a new always-zero tail class lowers\n" +
        "macro-F1 with no model change).\n")
    }
  }

  // ---- the conventions every row shares
  private def crcByte(sql: String): Long = {
    val c = new java.util.zip.CRC32(); c.update(sql.getBytes("UTF-8"))
    c.getValue & 0xff
  }

  /** The stable 25% holdout: the SQL's CRC32 low byte < 64. A function
    * of the SQL alone, so a query keeps its split as checkpoints grow
    * and merge; every campaign and evaluation splits through it. */
  def isHoldout(sql: String): Boolean = crcByte(sql) < 64

  /** Validation carve for best-epoch selection: the next CRC-byte band,
    * [64, 90) (~10%), so disjoint from the holdout BY CONSTRUCTION and as
    * stable across checkpoint growth. */
  def isVal(sql: String): Boolean = { val b = crcByte(sql); b >= 64 && b < 90 }

  /** The reference's bucket (Log2Partitioner: <=1 s -> 0, else floor log2). */
  def refBucket(rt: Double): Int = if (rt <= 1.0) 0 else math.min(8, math.floor(log2(rt)).toInt)

  /** Per-dimension mean/std over all timesteps of the train sequences.
    * The variance is clamped at 0 before the sqrt (floor 1e-6): the
    * naive sq/n − mean² can go slightly negative for constant non-dyadic
    * columns, and its NaN sqrt would poison every normalized vector. */
  def zStats(train: Seq[(String, Double)], dim: Int,
             enc: String => Array[Array[Double]]): (Array[Double], Array[Double]) = {
    val sum = new Array[Double](dim); val sq = new Array[Double](dim)
    var n = 0L
    train.foreach { case (sql, _) =>
      enc(sql).foreach { row =>
        var i = 0
        while (i < dim) { sum(i) += row(i); sq(i) += row(i) * row(i); i += 1 }
        n += 1
      }
    }
    val mean = sum.map(_ / n)
    (mean, sq.indices.map { i =>
      math.max(1e-6, math.sqrt(math.max(0.0, sq(i) / n - mean(i) * mean(i)))) }.toArray)
  }

  def zApply(mean: Array[Double], std: Array[Double])(seq: Array[Array[Double]]): Array[Array[Double]] =
    seq.map { row =>
      val out = new Array[Double](mean.length)
      var i = 0
      while (i < mean.length) { out(i) = (row(i) - mean(i)) / std(i); i += 1 }
      out
    }

  /** The padded flat traversal matrix and parent-linked tree, z-scored by
    * `norm`: what the z-fed families train on here and serve on in [[Scoring]]. */
  def flatRows(db: DbModel, sql: String, dim: Int, norm: Option[(Array[Double], Array[Double])]) =
    zNorm(norm, graft.encode.SetEncoders.flatMatrix(db, sql).map(_.padTo(dim, 0.0)))
  def treeOf(db: DbModel, sql: String, dim: Int, norm: Option[(Array[Double], Array[Double])]) = {
    val (parents, vecs) = graft.encode.SetEncoders.treeWithParents(db, sql)
    Gru4.fromParents(parents, zNorm(norm, vecs.map(_.padTo(dim, 0.0))))
  }
  private def zNorm(norm: Option[(Array[Double], Array[Double])], rows: Array[Array[Double]]) =
    norm.fold(rows) { case (m, sd) => zApply(m, sd)(rows) }

  /** The `tpch_aug` analog: each query expanded into up to `limit`
    * join-commute / predicate-order permutations with its label. A
    * permuted string equal to a `holdout` query is dropped (training on it
    * would memorize that point); unparseable SQL stays as is. */
  def augment(train: Seq[(String, Double)], db: DbModel, limit: Int,
              holdout: Set[String]): Seq[(String, Double)] =
    train.flatMap { case (sql, rt) =>
      scala.util.Try {
        graft.ir.TreeOps.permutations(graft.ir.Frontend.parseSql(sql, Some(db)), limit)
          .map(p => (graft.ir.TreeOps.toQuery(p).toSql(pretty = false), rt))
      }.getOrElse(Seq((sql, rt)))
    }.distinct.filterNot { case (sql, _) => holdout.contains(sql) }

  /** [[augment]] with limit clamp(round(maxCount / count_b), 1, capLimit) per bucket. */
  def augmentPerBucket(train: Seq[(String, Double)], db: DbModel, capLimit: Int,
                       holdout: Set[String]): Seq[(String, Double)] = {
    val byBucket = train.groupBy { case (_, rt) => Estimator.runtimeBucket(rt, 0) }
    val maxN = byBucket.values.map(_.size).max
    byBucket.toSeq.sortBy(_._1).flatMap { case (_, xs) =>
      augment(xs, db, math.max(1, math.min(capLimit, math.round(maxN.toDouble / xs.size).toInt)),
        holdout)
    }
  }

  /** Inverse-frequency class weights w_b = n / (K·n_b), capped so a
    * near-empty tail bucket cannot take the whole gradient budget; empty
    * classes get 0. */
  def classWeights(labels: Seq[Int], classes: Int, cap: Double): Array[Double] = {
    val counts = new Array[Int](classes)
    labels.foreach(l => counts(l) += 1)
    counts.map(c => if (c == 0) 0.0 else math.min(cap, labels.size.toDouble / (classes * c)))
  }

  /** Cyclic oversampling of each bucket to the largest one's size, in the
    * space the model's loss lives in: a classifier's own rounded-log2
    * labels by default, [[refBucket]] for a regressor on log2. */
  def balance(train: Seq[(String, Double)],
              bucketOf: Double => Int = Estimator.runtimeBucket(_, 0)): Seq[(String, Double)] = {
    val byBucket = train.groupBy { case (_, rt) => bucketOf(rt) }
    val cap = byBucket.values.map(_.size).max
    byBucket.toSeq.sortBy(_._1).flatMap { case (_, xs) => Iterator.continually(xs).flatten.take(cap) }
  }

  /** The seeds' fits, run concurrently, in seed order. Each fit is a pure
    * function of (data, seed), so threading changes wall-clock only. The
    * first failure is rethrown once all threads settle: a run never
    * reports a partial ensemble. */
  def parSeeds[A](seeds: Seq[Long])(f: Long => A): Seq[A] = {
    val out = new Array[Any](seeds.size)
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val ts = seeds.zipWithIndex.map { case (s, i) =>
      val t = new Thread(() =>
        try out(i) = f(s) catch { case e: Throwable => err.compareAndSet(null, e) })
      t.start(); t
    }
    ts.foreach(_.join())
    if (err.get != null) throw err.get
    out.toSeq.map(_.asInstanceOf[A])
  }

  /** Per-example majority vote across seeds; ties to the SMALLER bucket. */
  def vote(bucketsPerSeed: Seq[Seq[Double]]): Seq[Double] = bucketsPerSeed.transpose.map { votes =>
    votes.groupBy(identity).toSeq.maxBy { case (b, vs) => (vs.size, -b) }._1
  }
}
