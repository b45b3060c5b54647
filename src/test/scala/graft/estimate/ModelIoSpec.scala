package graft.estimate

import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint round-trips for every from-scratch neural family: the
  * reloaded model must predict BIT-IDENTICALLY to the saved one
  * (exact double round-trip through the JSON), and kind/layout
  * mismatches must fail loudly instead of mis-slicing weights.
  */
class ModelIoSpec extends AnyFunSuite {

  private val dir = java.nio.file.Files.createTempDirectory("modelio").toString

  private def vec(dim: Int, seed: Int): Array[Double] = {
    val r = new scala.util.Random(seed)
    Array.fill(dim)(r.nextDouble() * 2 - 1)
  }

  private def read(name: String): String =
    java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/$name"))

  test("Mscn round-trips weights and label normalization bit-exactly") {
    val data = (1 to 10).map { i =>
      (Mscn.Sets(Array(vec(3, i)), Array(vec(4, i + 50)), Array(vec(2, i + 99))),
        math.exp(i * 0.2))
    }
    val f = Mscn.fit(data, Mscn.Config(3, 4, 2, hidden = 6, epochs = 3, seed = 5L))
    ModelIo.saveMscn(s"$dir/m.json", f)
    val g = ModelIo.loadMscnFromJson(read("m.json"))
    assert(g.p.w.toSeq == f.p.w.toSeq)
    assert(g.minLog == f.minLog && g.maxLog == f.maxLog)
    data.foreach { case (s, _) =>
      assert(g.predictSeconds(s) == f.predictSeconds(s)) }
  }

  test("NeoNet round-trips bit-exactly") {
    val data = (1 to 10).map(i => (vec(5, i), i * 0.3))
    val f = NeoNet.fit(data, NeoNet.Config(inputDim = 5, epochs = 3, seed = 5L))
    ModelIo.saveNeo(s"$dir/n.json", f)
    val g = ModelIo.loadNeoFromJson(read("n.json"))
    assert(g.p.w.toSeq == f.p.w.toSeq)
    data.foreach { case (x, _) => assert(g.predict(x) == f.predict(x)) }
  }

  test("Gru / Gru4 / TreeLstm / RelCnn round-trip bit-exactly") {
    val seqs = (1 to 8).map(i => Array.tabulate(3)(j => vec(4, i * 10 + j)))
    val gru = Gru.fit(seqs.zipWithIndex.map { case (s, i) => (s, i % 3) },
      Gru.Config(inputDim = 4, hidden = 5, classes = 3, epochs = 2, seed = 7L))
    ModelIo.saveGru(s"$dir/g.json", gru)
    val gru2 = ModelIo.loadGruNormFromJson(read("g.json"))._1
    assert(gru2.p.w.toSeq == gru.p.w.toSeq)
    seqs.foreach(s => assert(gru2.predict(s) == gru.predict(s)))
    assert(ModelIo.loadGruNormFromJson(read("g.json"))._2.isEmpty)

    val trees = (1 to 8).map { i =>
      Gru4.fromParents(Array(-1, 0, 0), Array.tabulate(3)(j => vec(4, i * 20 + j)))
    }
    val g4 = Gru4.fit(trees.zipWithIndex.map { case (t, i) => (t, i * 0.2) },
      Gru4.Config(inputDim = 4, hidden = 4, headHidden = 4, epochs = 2, seed = 7L))
    // gru4 persists the z-score constants its inputs were normalized
    // with (predictions in a fresh session are garbage without them)
    val mean = Array.tabulate(4)(_ * 0.1)
    val std = Array.tabulate(4)(i => 1.0 + i * 0.01)
    ModelIo.saveGru4(s"$dir/g4.json", g4, Some((mean, std)))
    val (g42, norm) = ModelIo.loadGru4NormFromJson(read("g4.json"))
    assert(g42.p.w.toSeq == g4.p.w.toSeq)
    assert(norm.exists { case (m, sd) =>
      m.toSeq == mean.toSeq && sd.toSeq == std.toSeq })
    trees.foreach(t => assert(g42.predict(t) == g4.predict(t)))
    // a norm-less checkpoint loads with norm = None
    ModelIo.saveGru4(s"$dir/g4b.json", g4)
    assert(ModelIo.loadGru4NormFromJson(read("g4b.json"))._2.isEmpty)

    val tl = TreeLstm.fit(trees.zipWithIndex.map { case (t, i) => (t, i * 0.2) },
      TreeLstm.Config(inputDim = 4, hidden = 4, epochs = 2, seed = 7L))
    // the norm-constants contract now covers every z-scored-input family
    ModelIo.saveTreeLstm(s"$dir/tl.json", tl, Some((mean, std)))
    val (tl2, tlNorm) = ModelIo.loadTreeLstmNormFromJson(read("tl.json"))
    assert(tl2.p.w.toSeq == tl.p.w.toSeq)
    assert(tlNorm.exists { case (m, sd) =>
      m.toSeq == mean.toSeq && sd.toSeq == std.toSeq })

    val cnn = RelCnn.fit(seqs.zipWithIndex.map { case (s, i) => (s, i * 0.2) },
      RelCnn.Config(inputDim = 4, filters = 6, headHidden = 4, epochs = 2, seed = 7L))
    ModelIo.saveRelCnn(s"$dir/c.json", cnn, Some((mean, std)))
    val (cnn2, cnnNorm) = ModelIo.loadRelCnnNormFromJson(read("c.json"))
    assert(cnn2.p.w.toSeq == cnn.p.w.toSeq)
    assert(cnnNorm.exists { case (m, sd) =>
      m.toSeq == mean.toSeq && sd.toSeq == std.toSeq })
    seqs.foreach(s => assert(cnn2.predict(s) == cnn.predict(s)))
  }

  test("kind mismatch fails loudly") {
    val data = (1 to 4).map(i => (vec(5, i), i * 0.3))
    val f = NeoNet.fit(data, NeoNet.Config(inputDim = 5, epochs = 1, seed = 5L))
    ModelIo.saveNeo(s"$dir/k.json", f)
    assertThrows[IllegalArgumentException] { ModelIo.loadGruNormFromJson(read("k.json")) }
  }
}
