package perfbench

import scala.collection.mutable

/** Expected answers computed by the benchmark's own plain-Scala code,
  * never by the engine path under test.
  */
object Reference {

  /** Order-independent digest of a set of ids: (count, Σ splitmix64(id)). */
  final case class IdDigest(count: Long, hash: Long) {
    override def toString: String = f"$count ids #$hash%016x"
  }

  def digest(ids: Iterable[Long]): IdDigest = {
    var h = 0L
    var c = 0L
    ids.foreach { id => h += mix(id); c += 1 }
    IdDigest(c, h)
  }

  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Sort-filter-skyline (Chomicki et al., ICDE'03) under strict Pareto
    * dominance with every dim minimized: presort by the coordinate sum,
    * so a dominator always precedes its victims and the window only
    * grows. Returns the ids of the skyline.
    */
  def skyline(p: Gen.Points): Array[Long] = {
    val sums = p.dims.map(_.sum)
    val order = Array.range(0, p.n).sortBy(sums)
    val window = mutable.ArrayBuffer.empty[Array[Double]]
    val out = mutable.ArrayBuffer.empty[Long]
    order.foreach { i =>
      val x = p.dims(i)
      if (!window.exists(w => dominates(w, x))) { window += x; out += p.ids(i) }
    }
    out.toArray
  }

  def dominates(a: Array[Double], b: Array[Double]): Boolean = {
    var strict = false
    var j = 0
    while (j < a.length) {
      if (a(j) > b(j)) return false
      if (a(j) < b(j)) strict = true
      j += 1
    }
    strict
  }

  /** The Gopher-shape repetition gate of the engine's quality stage,
    * restated over a token array with the engine's published thresholds.
    */
  def repetitionOk(toks: Array[String]): Boolean = {
    import graft.text.QualityFilters._
    def grams(n: Int) = toks.sliding(n).filter(_.length == n).map(_.mkString(" ")).toArray
    def frac(num: Int, den: Int) = if (den > 0) num.toDouble / den else 0.0
    def top(a: Array[String]) = if (a.isEmpty) 0 else a.groupBy(identity).valuesIterator.map(_.length).max
    val g2 = grams(2)
    val g3 = grams(3)
    frac(top(g2), g2.length) <= MaxTopBigramFrac &&
      frac(top(g3), g3.length) <= MaxTopTrigramFrac &&
      frac(g2.length - g2.distinct.length, g2.length) <= MaxDupBigramFrac
  }

  private def tokens(text: String): Array[String] =
    text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)

  def shingles(text: String, n: Int): Set[String] = {
    val t = tokens(text)
    if (t.length < n) Set.empty else t.sliding(n).map(_.mkString(" ")).toSet
  }

  /** Exact dedup: the smallest id of each distinct normalized text. */
  def exactSurvivors(texts: Array[String]): Set[Long] =
    texts.indices.groupBy(i => tokens(texts(i)).mkString(" "))
      .valuesIterator.map(_.min.toLong).toSet

  /** Ids sharing at least one n-token shingle with the eval set. */
  def contaminated(texts: Array[String], evals: Array[String], n: Int): Set[Long] = {
    val bench = evals.flatMap(shingles(_, n)).toSet
    texts.indices.filter(i => shingles(texts(i), n).exists(bench)).map(_.toLong).toSet
  }

  /** All pairs (a < b) whose n-shingle Jaccard, rounded half-up to six
    * places as the operator documents, reaches `threshold`. Candidates
    * come from an inverted index over shingles, so no all-pairs scan.
    */
  def nearDupPairs(texts: Array[String], n: Int, threshold: Double): Set[(Long, Long)] = {
    val sets = texts.map(shingles(_, n))
    val postings = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    sets.indices.foreach(i => sets(i).foreach(s => postings.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += i))
    val out = Set.newBuilder[(Long, Long)]
    val seen = mutable.HashSet.empty[Long]
    postings.valuesIterator.foreach { docs =>
      var x = 0
      while (x < docs.length) {
        var y = x + 1
        while (y < docs.length) {
          val a = math.min(docs(x), docs(y)); val b = math.max(docs(x), docs(y))
          if (seen.add(a.toLong * texts.length + b)) {
            val inter = sets(a).count(sets(b)).toDouble
            val raw = inter / (sets(a).size + sets(b).size - inter)
            val j = java.math.BigDecimal.valueOf(raw)
              .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
            if (j >= threshold) out += ((a.toLong, b.toLong))
          }
          y += 1
        }
        x += 1
      }
    }
    out.result()
  }
}
