package perfbench

import java.util.SplittableRandom

/** Seeded input generators for the `curate` and `feed` workloads. Pure
  * driver-side Scala: the same seed yields the same rows, byte for byte,
  * and the planted ground truth comes back with them so the benchmark can
  * check the program's outputs against it.
  */
object Gen {

  /** A synthetic vocabulary, fixed across seeds: pronounceable words built
    * from syllables, ranked so Zipf sampling draws rank 0 most often.
    */
  val Vocab: IndexedSeq[String] = {
    val syl = IndexedSeq("ka", "lo", "mi", "ne", "su", "ta", "ri", "vo", "pe", "zu",
      "da", "fi", "go", "he", "ju", "ba", "co", "xe", "wy", "qu")
    val r = new SplittableRandom(7L)
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < 12000) {
      val n = 1 + r.nextInt(4)
      seen += (0 until n).map(_ => syl(r.nextInt(syl.size))).mkString
    }
    seen.toIndexedSeq
  }

  /** Inverse-CDF Zipf sampler over ranks 0..n-1 with exponent `s`. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val out = w.scanLeft(0.0)(_ + _).tail
      out.map(_ / out.last)
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  // ---- curate ------------------------------------------------------------

  final case class Doc(docId: Long, text: String, lang: String, source: String, nChars: Long)

  /** Planted truth: doc-id groups that hold identical text, doc-id groups
    * that are near copies (a few tokens substituted), and how many docs carry
    * a shared boilerplate span.
    */
  final case class CurateTruth(
      exactClusters: Seq[Seq[Long]],
      nearClusters: Seq[Seq[Long]],
      boilerplateDocs: Int) {
    /** Docs beyond the first of each planted cluster: the duplicate mass. */
    def plantedDupDocs: Int = (exactClusters ++ nearClusters).map(_.size - 1).sum
  }

  val Langs: IndexedSeq[(String, Double, Int)] = // (lang, share, vocab offset)
    IndexedSeq(("en", 0.6, 0), ("de", 0.15, 2500), ("fr", 0.15, 5000), ("es", 0.1, 7500))
  val Sources: IndexedSeq[String] = IndexedSeq("web", "books", "news", "forum")

  /** Twelve boilerplate sentences shared across the corpus: the repeated
    * spans `removeDuplicateSpans` exists to strip.
    */
  val Boilerplate: IndexedSeq[Seq[String]] = {
    val r = new SplittableRandom(11L)
    IndexedSeq.fill(12)(Seq.fill(18)(Vocab(200 + r.nextInt(3000))))
  }

  /** Share of the corpus planted as duplicates: a sparse share, as in web
    * text after URL-level dedup.
    */
  val DupShare = 0.06
  /** Share of the documents that carry one boilerplate sentence. */
  val BoilerShare = 0.3

  /** `nDocs` documents with the `documents.parquet` schema. About
    * [[DupShare]] of them are planted duplicates, half exact copies and half
    * near copies, in clusters of 2 to 4; [[BoilerShare]] of them carry one
    * boilerplate sentence.
    */
  def curate(seed: Long, nDocs: Int): (Seq[Doc], CurateTruth) = {
    val r = new SplittableRandom(seed)
    val zipf = new Zipf(Vocab.size / 2, 1.05)
    def lang(): (String, Int) = {
      val u = r.nextDouble()
      val cum = Langs.scanLeft(0.0)(_ + _._2).tail
      val i = cum.indexWhere(u < _) match { case -1 => Langs.size - 1; case k => k }
      (Langs(i)._1, Langs(i)._3)
    }
    def body(offset: Int): Vector[String] =
      Vector.fill(80 + r.nextInt(160))(Vocab((zipf.draw(r) + offset) % Vocab.size))

    // (text tokens, lang, source, cluster tag): tag > 0 exact, < 0 near
    val rows = scala.collection.mutable.ArrayBuffer[(Vector[String], String, String, Int)]()
    var boiler = 0
    var cluster = 0
    val dupTarget = (nDocs * DupShare).toInt
    var dupDocs = 0
    while (rows.size < nDocs) {
      val (lg, off) = lang()
      var toks = body(off)
      if (r.nextDouble() < BoilerShare) {
        val at = r.nextInt(toks.size)
        toks = toks.take(at) ++ Boilerplate(r.nextInt(Boilerplate.size)) ++ toks.drop(at)
        boiler += 1
      }
      val src = Sources(r.nextInt(Sources.size))
      val room = nDocs - rows.size - 1
      val copies = if (dupDocs < dupTarget && room > 0) math.min(room, 1 + r.nextInt(3)) else 0
      if (copies == 0) rows += ((toks, lg, src, 0))
      else {
        cluster += 1
        val exact = cluster % 2 == 1
        val tag = if (exact) cluster else -cluster
        rows += ((toks, lg, src, tag))
        (1 to copies).foreach { _ =>
          val copy =
            if (exact) toks
            else toks.map(t => if (r.nextDouble() < 0.03) Vocab(r.nextInt(Vocab.size)) else t)
          rows += ((copy, lg, src, tag))
          if (boilerplateIn(copy)) boiler += 1
        }
        dupDocs += copies
      }
    }
    // shuffle so cluster members do not sit on adjacent ids
    val order = rows.indices.toArray
    for (i <- order.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
    }
    val docs = order.iterator.zipWithIndex.map { case (src, id) =>
      val (toks, lg, s, _) = rows(src)
      val text = toks.mkString(" ")
      Doc(id.toLong, text, lg, s, text.length.toLong)
    }.toVector
    val tagOf = order.iterator.zipWithIndex.map { case (src, id) => id.toLong -> rows(src)._4 }.toSeq
    val groups = tagOf.filter(_._2 != 0).groupBy(_._2).view.mapValues(_.map(_._1).sorted).toMap
    val truth = CurateTruth(
      exactClusters = groups.collect { case (t, ids) if t > 0 => ids }.toSeq.sortBy(_.head),
      nearClusters = groups.collect { case (t, ids) if t < 0 => ids }.toSeq.sortBy(_.head),
      boilerplateDocs = boiler)
    (docs, truth)
  }

  private def boilerplateIn(toks: Vector[String]): Boolean =
    Boilerplate.exists(b => toks.containsSlice(b))

  // ---- feed --------------------------------------------------------------

  /** One training row: Zipf-skewed categoricals, numerics with nulls, a
    * short text field and a binary label.
    */
  final case class FeedRow(
      id: Long,
      catA: Option[String],
      catB: String,
      numX: Option[Double],
      numY: Option[Double],
      qty: Long,
      text: String,
      label: String)

  def feed(seed: Long, nRows: Int): Seq[FeedRow] = {
    val r = new SplittableRandom(seed)
    val za = new Zipf(400, 1.2)
    val zb = new Zipf(24, 1.5)
    val zw = new Zipf(4000, 1.1)
    Vector.tabulate(nRows) { i =>
      val a = za.draw(r)
      val x = r.nextDouble() * 4.0 - 2.0
      val y = math.exp(r.nextDouble() * 3.0)
      val pos = x + (if (a < 10) 1.0 else 0.0) + (r.nextDouble() - 0.5) > 0.3
      FeedRow(
        id = i.toLong,
        catA = if (r.nextDouble() < 0.05) None else Some(s"a${a}"),
        catB = s"b${zb.draw(r)}",
        numX = if (r.nextDouble() < 0.1) None else Some(x),
        numY = if (r.nextDouble() < 0.05) None else Some(y),
        qty = 1L + r.nextInt(50),
        text = Seq.fill(4 + r.nextInt(9))(Vocab(zw.draw(r))).mkString(" "),
        label = if (pos) "Y" else "N")
    }
  }
}
