package graft.estimate

import com.fasterxml.jackson.databind.ObjectMapper

/** Checkpoint persistence for the from-scratch neural families — the
  * reference's save/load workflow (`torch.save` checkpoints consumed by
  * `load_pretrained_model`, dqo/estimator/evaluate.py:108-116; Keras
  * `model.save` in neo_tf) for models that must outlive the training
  * session. One JSON document per model: a `kind` tag, the config
  * fields the Params layout derives from, and the flat weight vector
  * with exact double round-trip (Jackson emits shortest-repr doubles;
  * `readValue` restores the identical bits — asserted in ModelIoSpec).
  *
  * Scope: DRIVER-side files, like the reference's checkpoints — these
  * models train driver-side over collected campaign measurements; the
  * corpus-scale work stays in Spark. The normalization constants that
  * are part of a fitted model's contract ([[Mscn.Fitted]]'s label
  * range) persist alongside the weights.
  */
object ModelIo {

  private lazy val mapper = new ObjectMapper()

  private def writeDoc(path: String, kind: String,
                       ints: Seq[(String, Int)], doubles: Seq[(String, Double)],
                       w: Array[Double],
                       arrays: Seq[(String, Array[Double])] = Nil): Unit = {
    val root = mapper.createObjectNode()
    root.put("kind", kind)
    ints.foreach { case (k, v) => root.put(k, v) }
    doubles.foreach { case (k, v) => root.put(k, v) }
    arrays.foreach { case (k, vs) =>
      val a = root.putArray(k); vs.foreach(a.add)
    }
    val arr = root.putArray("w")
    w.foreach(arr.add)
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p, mapper.writeValueAsString(root))
  }

  /** The `kind` tag of a checkpoint document — lets a caller holding
    * only the JSON text ([[Scoring]]'s broadcast string) dispatch to
    * the right family loader without a trial parse per family. */
  def kindOf(json: String): String = {
    val k = mapper.readTree(json).get("kind")
    require(k != null, "checkpoint JSON has no kind tag")
    k.asText()
  }

  // text-level entry so a checkpoint shipped as a broadcast string
  // ([[Scoring]]) parses identically to one read from disk
  private def readDocText(text: String, expectKind: String) = {
    val root = mapper.readTree(text)
    require(root.get("kind").asText() == expectKind,
      s"checkpoint kind ${root.get("kind").asText()} != expected $expectKind")
    root
  }

  private def weights(root: com.fasterxml.jackson.databind.JsonNode): Array[Double] = {
    val arr = root.get("w")
    Array.tabulate(arr.size())(arr.get(_).asDouble())
  }

  // Per-dimension z-score constants ride along with every model whose
  // inputs were normalized at fit time — weights fitted on z-scored
  // sequences are garbage on raw features, so the constants are part of
  // the fitted contract, not an external detail (the same rule
  // Mscn.Fitted applies to its label range).
  private def normArrays(norm: Option[(Array[Double], Array[Double])]) =
    norm.map { case (m, sd) => Seq("norm_mean" -> m, "norm_std" -> sd) }
      .getOrElse(Nil)

  private def readNorm(r: com.fasterxml.jackson.databind.JsonNode)
      : Option[(Array[Double], Array[Double])] = {
    def arr(k: String): Option[Array[Double]] = Option(r.get(k))
      .map(a => Array.tabulate(a.size())(a.get(_).asDouble()))
    for (m <- arr("norm_mean"); sd <- arr("norm_std")) yield (m, sd)
  }

  // ---- Mscn (config + label normalization + weights) -----------------

  def saveMscn(path: String, f: Mscn.Fitted): Unit =
    writeDoc(path, "mscn",
      Seq("tableFeats" -> f.p.cfg.tableFeats, "predFeats" -> f.p.cfg.predFeats,
        "joinFeats" -> f.p.cfg.joinFeats, "hidden" -> f.p.cfg.hidden),
      Seq("minLog" -> f.minLog, "maxLog" -> f.maxLog), f.p.w)

  def loadMscnFromJson(json: String): Mscn.Fitted = {
    val r = readDocText(json, "mscn")
    val cfg = Mscn.Config(r.get("tableFeats").asInt(), r.get("predFeats").asInt(),
      r.get("joinFeats").asInt(), hidden = r.get("hidden").asInt())
    val p = new Mscn.Params(cfg, weights(r))
    require(p.w.length == Mscn.Params.size(cfg),
      s"weight count ${p.w.length} != layout ${Mscn.Params.size(cfg)}")
    Mscn.Fitted(p, r.get("minLog").asDouble(), r.get("maxLog").asDouble(), Nil)
  }

  // ---- NeoNet --------------------------------------------------------

  def saveNeo(path: String, f: NeoNet.Fitted): Unit =
    writeDoc(path, "neonet",
      Seq("inputDim" -> f.p.cfg.inputDim, "h1" -> f.p.cfg.h1,
        "h2" -> f.p.cfg.h2, "h3" -> f.p.cfg.h3), Nil, f.p.w)

  def loadNeoFromJson(json: String): NeoNet.Fitted = {
    val r = readDocText(json, "neonet")
    val cfg = NeoNet.Config(r.get("inputDim").asInt(), r.get("h1").asInt(),
      r.get("h2").asInt(), r.get("h3").asInt())
    val p = new NeoNet.Params(cfg, weights(r))
    require(p.w.length == NeoNet.Params.size(cfg),
      s"weight count ${p.w.length} != layout ${NeoNet.Params.size(cfg)}")
    NeoNet.Fitted(p, Nil)
  }

  // ---- Gru (bucket classifier) ---------------------------------------

  def saveGru(path: String, f: Gru.Fitted,
              norm: Option[(Array[Double], Array[Double])] = None): Unit =
    writeDoc(path, "gru",
      Seq("inputDim" -> f.p.cfg.inputDim, "hidden" -> f.p.cfg.hidden,
        "classes" -> f.p.cfg.classes), Nil, f.p.w, normArrays(norm))

  /** Parse a GRU checkpoint from its JSON TEXT — the executor-side
    * entry: [[Scoring.scoreWorkload]] broadcasts the checkpoint as a
    * string so tasks never read the driver's filesystem. */
  def loadGruNormFromJson(json: String)
      : (Gru.Fitted, Option[(Array[Double], Array[Double])]) = {
    val r = readDocText(json, "gru")
    val cfg = Gru.Config(r.get("inputDim").asInt(), r.get("hidden").asInt(),
      r.get("classes").asInt())
    val p = new Gru.Params(cfg, weights(r))
    require(p.w.length == Gru.Params.size(cfg),
      s"weight count ${p.w.length} != layout ${Gru.Params.size(cfg)}")
    (Gru.Fitted(p, Nil), readNorm(r))
  }

  // ---- Gru4 (v20 regressor) ------------------------------------------

  /** `norm`: the train-split per-dimension (mean, std) the sequences
    * were z-scored with — REQUIRED for a checkpoint meant to predict in
    * a later session (weights fitted on z-scored inputs are garbage on
    * raw features; [[loadGru4NormFromJson]] returns them alongside the
    * model).
    */
  def saveGru4(path: String, f: Gru4.Fitted,
               norm: Option[(Array[Double], Array[Double])] = None): Unit =
    writeDoc(path, "gru4",
      Seq("inputDim" -> f.p.cfg.inputDim, "hidden" -> f.p.cfg.hidden,
        "headHidden" -> f.p.cfg.headHidden), Nil, f.p.w, normArrays(norm))

  /** Model plus the persisted z-score constants (None on a checkpoint
    * saved without them) from the checkpoint's JSON text. Callers
    * predicting in a fresh session must apply (x − mean) / std per
    * dimension before the forward pass.
    */
  def loadGru4NormFromJson(json: String)
      : (Gru4.Fitted, Option[(Array[Double], Array[Double])]) = {
    val r = readDocText(json, "gru4")
    val cfg = Gru4.Config(r.get("inputDim").asInt(), r.get("hidden").asInt(),
      r.get("headHidden").asInt())
    val p = new Gru4.Params(cfg, weights(r))
    require(p.w.length == Gru4.Params.size(cfg),
      s"weight count ${p.w.length} != layout ${Gru4.Params.size(cfg)}")
    (Gru4.Fitted(p, Nil), readNorm(r))
  }

  // ---- TreeLstm ------------------------------------------------------

  def saveTreeLstm(path: String, f: TreeLstm.Fitted,
                   norm: Option[(Array[Double], Array[Double])] = None): Unit =
    writeDoc(path, "treelstm",
      Seq("inputDim" -> f.p.cfg.inputDim, "hidden" -> f.p.cfg.hidden),
      Nil, f.p.w, normArrays(norm))

  def loadTreeLstmNormFromJson(json: String)
      : (TreeLstm.Fitted, Option[(Array[Double], Array[Double])]) = {
    val r = readDocText(json, "treelstm")
    val cfg = TreeLstm.Config(r.get("inputDim").asInt(), r.get("hidden").asInt())
    val p = new TreeLstm.Params(cfg, weights(r))
    require(p.w.length == TreeLstm.Params.size(cfg),
      s"weight count ${p.w.length} != layout ${TreeLstm.Params.size(cfg)}")
    (TreeLstm.Fitted(p, Nil), readNorm(r))
  }

  // ---- RelCnn --------------------------------------------------------

  def saveRelCnn(path: String, f: RelCnn.Fitted,
                 norm: Option[(Array[Double], Array[Double])] = None): Unit =
    writeDoc(path, "relcnn",
      Seq("inputDim" -> f.p.cfg.inputDim, "filters" -> f.p.cfg.filters,
        "headHidden" -> f.p.cfg.headHidden), Nil, f.p.w, normArrays(norm))

  def loadRelCnnNormFromJson(json: String)
      : (RelCnn.Fitted, Option[(Array[Double], Array[Double])]) = {
    val r = readDocText(json, "relcnn")
    val cfg = RelCnn.Config(r.get("inputDim").asInt(), r.get("filters").asInt(),
      r.get("headHidden").asInt())
    val p = new RelCnn.Params(cfg, weights(r))
    require(p.w.length == RelCnn.Params.size(cfg),
      s"weight count ${p.w.length} != layout ${RelCnn.Params.size(cfg)}")
    (RelCnn.Fitted(p, Nil), readNorm(r))
  }
}
