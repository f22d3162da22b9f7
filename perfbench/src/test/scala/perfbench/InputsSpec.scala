package perfbench

import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {

  test("the same seed gives the same requests and ingest batches") {
    val a = (0 until 200).map(Inputs.serveRequest(5, _))
    val b = (0 until 200).map(Inputs.serveRequest(5, _))
    assert(a == b)
    assert(Inputs.ingestBatch(5, 3, 8) == Inputs.ingestBatch(5, 3, 8))
  }

  test("another seed gives other requests and documents") {
    val a = (0 until 200).map(Inputs.serveRequest(5, _))
    val b = (0 until 200).map(Inputs.serveRequest(6, _))
    assert(a.map(_.text) != b.map(_.text))
    assert(Inputs.ingestBatch(5, 0, 8).map(_.text) != Inputs.ingestBatch(6, 0, 8).map(_.text))
  }

  test("the corpus has the measured shape of the sf0.1 documents") {
    val docs = Inputs.corpus
    assert(docs.size == Inputs.NDocs)
    assert(docs.map(_.id) == (0 until Inputs.NDocs).map(_.toLong))
    val words = docs.map(_.text.split(" ").filter(_ != "dup").length)
    assert(words.min >= Inputs.MinWords && words.max <= Inputs.MaxWords)
    assert(math.abs(words.sum.toDouble / words.size - 55) < 2)
    val dupFrac = docs.count(_.text.endsWith(" dup")).toDouble / docs.size
    assert(dupFrac > 0.04 && dupFrac < 0.06, s"near-duplicate share $dupFrac")
    Inputs.Langs.foreach { case (l, w) =>
      assert(math.abs(docs.count(_.lang == l).toDouble / docs.size - w) < 0.02, s"share of $l")
    }
    assert(Inputs.vectors.size == Inputs.NVecs)
    assert(Inputs.vectors.forall(v => v.length == Inputs.Dim &&
      math.abs(v.map(x => x.toDouble * x).sum - 1) < 1e-4))
  }

  test("every block follows the mix exactly, one filtered request per band") {
    val reqs = (0 until 100).map(Inputs.serveRequest(9, _))
    val vecDocs = Inputs.corpus.take(Inputs.NVecs)
    reqs.grouped(Inputs.BlockSize).foreach { block =>
      val counts = block.groupBy(_.cls).map { case (c, rs) => c -> rs.size }
      assert(counts == Inputs.ServeMix.toMap)
      val bands = block.filter(_.pred.isDefined)
        .map(r => (r.cls, Inputs.band(vecDocs.count(r.pred.get.matches).toLong)))
      assert(bands.sorted == Seq("filtered_lang" -> "broad", "filtered_lang" -> "mid",
        "filtered_meta" -> "broad", "filtered_meta" -> "mid", "filtered_meta" -> "selective"))
    }
  }

  test("filtered requests reach every cardinality band their shape can") {
    assert(Inputs.bandsFor(langShape = false) == Inputs.Bands)
    assert(Inputs.bandsFor(langShape = true) == Seq("mid", "broad"))
    val reqs = (0 until 200).map(Inputs.serveRequest(3, _)).filter(_.pred.isDefined)
    val vecDocs = Inputs.corpus.take(Inputs.NVecs)
    val reached = reqs.map(r => (r.cls, Inputs.band(vecDocs.count(r.pred.get.matches).toLong))).toSet
    assert(reached == Set("filtered_lang" -> "mid", "filtered_lang" -> "broad",
      "filtered_meta" -> "selective", "filtered_meta" -> "mid", "filtered_meta" -> "broad"))
    Inputs.predBands.foreach { case (b, ps) =>
      ps.foreach(p => assert(Inputs.band(vecDocs.count(p.matches).toLong) == b))
    }
  }

  test("ingest documents never collide with corpus ids") {
    val ids = (0 until 50).flatMap(b => Inputs.ingestBatch(1, b, 8)).map(_.id)
    assert(ids.distinct.size == ids.size)
    assert(ids.forall(_ >= Inputs.NDocs))
  }
}
