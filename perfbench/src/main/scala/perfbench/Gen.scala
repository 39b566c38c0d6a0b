package perfbench

import java.nio.ByteBuffer
import java.security.MessageDigest
import scala.collection.mutable

/** Seeded input generators. Everything a workload feeds the engine is
  * made here from `--seed`; the same seed gives byte-identical inputs
  * (pinned by [[contentHash]] in GenSpec).
  */
object Gen {

  /** Points for a skyline workload: row `i` has id `ids(i)` and vector
    * `dims(i)`; all dims are minimized.
    */
  final case class Points(ids: Array[Long], dims: Array[Array[Double]]) {
    def n: Int = ids.length
    def d: Int = dims.head.length
  }

  private def normal(r: java.util.Random, mu: Double, sigma: Double): Double =
    mu + sigma * r.nextGaussian()

  private def inUnitCube(x: Array[Double]): Boolean = x.forall(v => v >= 0.0 && v <= 1.0)

  /** Anti-correlated points (Börzsönyi, Kossmann & Stocker, ICDE'01):
    * each point sits near the hyperplane Σx = d·v with v ~ N(0.5, σ),
    * spread within it by pairwise-cancelling uniform offsets. Points
    * good in one dim are bad in another, so a large share survives.
    */
  def antiCorrelated(n: Int, d: Int, seed: Long, sigma: Double): Points = {
    val r = new java.util.Random(seed)
    val x = new Array[Double](d)
    val dims = Array.fill(n) {
      var ok = false
      while (!ok) {
        val v = normal(r, 0.5, sigma)
        val l = if (v <= 0.5) v else 1.0 - v
        java.util.Arrays.fill(x, v)
        var j = 0
        while (j < d) {
          val h = -l + 2 * l * r.nextDouble()
          x(j) += h
          x((j + 1) % d) -= h
          j += 1
        }
        ok = inUnitCube(x)
      }
      x.clone()
    }
    Points(Array.tabulate(n)(_.toLong), dims)
  }

  /** Correlated points (same paper): v is the mean of d uniforms and
    * each dim stays within a normal spread of v scaled by `spread`, so
    * a point good in one dim is good in all and few survive.
    */
  def correlated(n: Int, d: Int, seed: Long, spread: Double): Points = {
    val r = new java.util.Random(seed)
    val x = new Array[Double](d)
    val dims = Array.fill(n) {
      var ok = false
      while (!ok) {
        var v = 0.0
        var j = 0
        while (j < d) { v += r.nextDouble(); j += 1 }
        v /= d
        val l = if (v <= 0.5) v else 1.0 - v
        java.util.Arrays.fill(x, v)
        j = 0
        while (j < d) {
          val h = normal(r, 0.0, l * spread)
          x(j) += h
          x((j + 1) % d) -= h
          j += 1
        }
        ok = inUnitCube(x)
      }
      x.clone()
    }
    Points(Array.tabulate(n)(_.toLong), dims)
  }

  /** A training corpus with planted duplicates and an eval set.
    *
    * @param texts    document text by id (ids are 0 until n)
    * @param sources  document source tag by id
    * @param evalTexts the eval/benchmark set to decontaminate against
    * @param exactCopies   ids planted as exact copies of another doc
    * @param nearPairs     planted (original, near-copy) id pairs
    * @param contaminated  ids planted with an eval passage
    */
  final case class Corpus(
      texts: Array[String],
      sources: Array[String],
      evalTexts: Array[String],
      exactCopies: Set[Long],
      nearPairs: Set[(Long, Long)],
      contaminated: Set[Long]) {
    def n: Int = texts.length
  }

  val Sources: Seq[String] = Seq("books", "code", "web")

  /** Vocabulary word `i`: lowercase letters only, so the engine's
    * whitespace tokenizer and this generator agree on every token.
    */
  private def word(i: Int): String = {
    val sb = new StringBuilder("q")
    var k = i
    while ({ sb.append(('a' + k % 26).toChar); k /= 26; k > 0 }) ()
    sb.toString
  }

  /** `n` docs over a Zipf(1.1) vocabulary: ~10% exact copies, ~10% near
    * copies (3 substituted tokens), ~5% carrying an 8-token passage of
    * an eval doc. Every doc passes the engine's repetition gate by
    * construction ([[Reference.repetitionOk]] rejects and redraws).
    */
  def corpus(n: Int, seed: Long, vocab: Int = 5000, evalDocs: Int = 100,
      passage: Int = 8): Corpus = {
    val r = new java.util.Random(seed)
    val words = Array.tabulate(vocab)(word)
    val cdf = {
      val w = Array.tabulate(vocab)(i => 1.0 / math.pow(i + 1, 1.1))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def draw(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(vocab - 1, if (i >= 0) i else -i - 1)
    }
    def doc(): Array[Int] = {
      var toks: Array[Int] = null
      while (toks == null || !Reference.repetitionOk(toks.map(words))) {
        val len = 30 + r.nextInt(31)
        val seen = mutable.LinkedHashSet.empty[Int]
        while (seen.size < len) seen += draw()
        toks = seen.toArray
      }
      toks
    }
    val evals = Array.fill(evalDocs)(doc())
    val nExact = n / 10
    val nNear = n / 10
    val nBase = n - nExact - nNear
    val base = Array.fill(nBase)(doc())
    val contaminatedSlots = mutable.Set.empty[Int]
    for (b <- 0 until nBase if r.nextInt(20) == 0) {
      val e = evals(r.nextInt(evalDocs))
      val from = r.nextInt(e.length - passage + 1)
      val at = r.nextInt(base(b).length - passage + 1)
      val t = base(b).clone()
      System.arraycopy(e, from, t, at, passage)
      if (Reference.repetitionOk(t.map(words))) { base(b) = t; contaminatedSlots += b }
    }
    // slot -> (tokens, origin slot, kind): 0 base, 1 exact copy, 2 near copy
    val slots = mutable.ArrayBuffer.empty[(Array[Int], Int, Int)]
    base.indices.foreach(b => slots += ((base(b), b, 0)))
    for (_ <- 0 until nExact) {
      val b = r.nextInt(nBase); slots += ((base(b), b, 1))
    }
    for (_ <- 0 until nNear) {
      val b = r.nextInt(nBase)
      var t: Array[Int] = null
      while (t == null || !Reference.repetitionOk(t.map(words))) {
        t = base(b).clone()
        val present = mutable.Set(t.toIndexedSeq: _*)
        for (_ <- 0 until 3) {
          var w = draw()
          while (present(w)) w = draw()
          present += w
          t(r.nextInt(t.length)) = w
        }
      }
      slots += ((t, b, 2))
    }
    // ids are a seeded permutation of the slots, so "keep the smallest
    // id" is not simply "keep the original"
    val perm = (0 until slots.size).toArray
    for (i <- perm.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val tmp = perm(i); perm(i) = perm(j); perm(j) = tmp
    }
    val idOfBase = new Array[Long](nBase)
    slots.indices.foreach(s => if (slots(s)._3 == 0) idOfBase(slots(s)._2) = perm(s).toLong)
    val texts = new Array[String](slots.size)
    val exact = Set.newBuilder[Long]
    val near = Set.newBuilder[(Long, Long)]
    slots.indices.foreach { s =>
      val (t, b, kind) = slots(s)
      val id = perm(s).toLong
      texts(perm(s)) = t.map(words).mkString(" ")
      if (kind == 1) exact += id
      if (kind == 2) near += ((math.min(idOfBase(b), id), math.max(idOfBase(b), id)))
    }
    val sources = Array.tabulate(texts.length)(_ => Sources(r.nextInt(Sources.size)))
    Corpus(texts, sources, evals.map(_.map(words).mkString(" ")),
      exact.result(), near.result(), contaminatedSlots.map(idOfBase(_)).toSet)
  }

  /** Warehouse starting state: an append-only table of (k, v) rows and
    * a keyed table of (k, grp, v) rows, plus the seeded stream of
    * values the loop appends, updates and merges.
    */
  final case class Warehouse(seed: Long) {
    val baseFiles = 64
    val rowsPerFile = 256
    val keyedRows = 4000
    val groups = 16
    def baseRows: Array[(Long, Long)] = Array.tabulate(baseFiles * rowsPerFile)(i => (i.toLong, value(0, i)))
    /** Rows of the `i`-th append (i from 1): one file of fresh keys. */
    def appendRows(i: Int): Array[(Long, Long)] = Array.tabulate(rowsPerFile) { j =>
      val k = (baseFiles + i - 1).toLong * rowsPerFile + j
      (k, value(i, j))
    }
    def keyed: Array[(Long, Long, Long)] =
      Array.tabulate(keyedRows)(i => (i.toLong, (i % groups).toLong, value(-1, i)))
    /** MERGE source of pass `p`: 50 existing keys and 50 new ones. */
    def mergeSource(p: Int): Array[(Long, Long, Long)] = {
      val r = new java.util.Random(seed * 31 + p)
      val old = Array.fill(50)(r.nextInt(keyedRows).toLong).distinct
      val fresh = Array.tabulate(50)(j => 1000000L + p * 100L + j)
      (old ++ fresh).map(k => (k, k % groups, (r.nextInt(1000000) + 1).toLong))
    }
    private def value(stream: Int, i: Int): Long =
      (new java.util.Random(seed ^ (stream.toLong << 32) ^ i).nextInt(1000000) + 1).toLong
  }

  /** SHA-256 over a canonical binary rendering of an input. */
  def contentHash(a: Any): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val buf = ByteBuffer.allocate(8)
    def long(v: Long): Unit = { buf.clear(); buf.putLong(v); md.update(buf.array()) }
    def str(s: String): Unit = { val b = s.getBytes("UTF-8"); long(b.length); md.update(b) }
    def walk(x: Any): Unit = x match {
      case p: Points =>
        long(p.n); p.ids.foreach(long)
        p.dims.foreach(_.foreach(v => long(java.lang.Double.doubleToLongBits(v))))
      case c: Corpus =>
        c.texts.foreach(str); c.sources.foreach(str); c.evalTexts.foreach(str)
        c.exactCopies.toSeq.sorted.foreach(long)
        c.nearPairs.toSeq.sorted.foreach { case (a, b) => long(a); long(b) }
        c.contaminated.toSeq.sorted.foreach(long)
      case w: Warehouse =>
        w.baseRows.foreach { case (k, v) => long(k); long(v) }
        (1 to 8).foreach(i => w.appendRows(i).foreach { case (k, v) => long(k); long(v) })
        w.keyed.foreach { case (k, g, v) => long(k); long(g); long(v) }
        (1 to 8).foreach(p => w.mergeSource(p).foreach { case (k, g, v) => long(k); long(g); long(v) })
    }
    walk(a)
    md.digest().map("%02x".format(_)).mkString
  }
}
