package graft.perfbench

/** Seeded input generators. Every generator is a pure function of its
  * seed and sizes, so the same seed gives byte-identical inputs; the
  * program under test only ever sees what these produce.
  *
  * Each generator draws from its own `java.util.SplittableRandom`
  * stream derived from (seed, stream tag), so adding a draw to one
  * generator never shifts another's inputs.
  */
object Gen {

  def rng(seed: Long, tag: String): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ tag.hashCode.toLong * 0xBF58476D1CE4E5B9L)

  /** A clustered vector corpus: `nClusters` centres uniform in
    * [-1, 1]^dim, each row a centre plus isotropic gaussian noise.
    * Held-out vectors come from a separate stream of the same mixture,
    * so a query is never a corpus row.
    */
  final case class Mixture(centres: Array[Array[Float]], sigma: Double) {
    def dim: Int = centres(0).length
    def draw(r: java.util.SplittableRandom): (Int, Array[Float]) = {
      val c = r.nextInt(centres.length)
      val v = new Array[Float](dim)
      var i = 0
      while (i < dim) { v(i) = (centres(c)(i) + gaussian(r) * sigma).toFloat; i += 1 }
      (c, v)
    }
  }

  def mixture(seed: Long, nClusters: Int, dim: Int, sigma: Double): Mixture = {
    val r = rng(seed, "centres")
    Mixture(Array.fill(nClusters)(Array.fill(dim)((r.nextDouble() * 2 - 1).toFloat)), sigma)
  }

  /** Box–Muller from one uniform stream (SplittableRandom has no
    * gaussian before JDK 17's RandomGenerator default, whose algorithm
    * is not pinned across JDKs).
    */
  private def gaussian(r: java.util.SplittableRandom): Double = {
    val u1 = 1.0 - r.nextDouble()
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  final case class Corpus(ids: Array[Long], vecs: Array[Array[Float]], labels: Array[Int])

  def corpus(m: Mixture, seed: Long, n: Int, firstId: Long = 0L, tag: String = "corpus"): Corpus = {
    val r = rng(seed, tag)
    val drawn = Array.fill(n)(m.draw(r))
    Corpus(Array.tabulate(n)(i => firstId + i), drawn.map(_._2), drawn.map(_._1))
  }

  def queries(m: Mixture, seed: Long, n: Int, tag: String = "queries"): Array[Array[Float]] = {
    val r = rng(seed, tag)
    Array.fill(n)(m.draw(r)._2)
  }

  // ------------------------------------------------------------ text

  /** Fixed pseudo-English vocabulary (not seeded by the run: the
    * language gate and quality floor must see the same word shapes on
    * every seed). English stopwords are mixed in at a fixed rate so
    * clean documents pass the gate; gated documents use German ones.
    */
  private val Vocab: Array[String] = {
    val r = new java.util.SplittableRandom(7L)
    val letters = "etaoinshrdlucmfwypvbgkqjxz"
    Array.fill(3000) {
      val len = 3 + r.nextInt(7)
      (0 until len).map(_ => letters(math.min(r.nextInt(26), r.nextInt(26)))).mkString
    }.distinct
  }
  private val EnStop = Array("the", "a", "of", "and", "is")
  private val DeStop = Array("der", "die", "das", "und", "ist")

  /** Planted near-duplicate families: a base document plus copies at
    * each word-edit rate (a rate of 0 is an exact copy).
    */
  val EditRates: Array[Double] = Array(0.0, 0.01, 0.03)

  /** What the shard planted, for the oracle: every document's family
    * (its `source` column) and role.
    */
  final case class Doc(docId: Long, text: String, source: String, role: String)

  private def words(r: java.util.SplittableRandom, n: Int, stop: Array[String]): Array[String] =
    Array.fill(n)(if (r.nextInt(5) == 0) stop(r.nextInt(stop.length)) else Vocab(r.nextInt(Vocab.length)))

  /** A shard of `n` documents: roughly a fifth in near-duplicate
    * families (base + one copy per edit rate), a few gated (German
    * stopwords, so the language gate drops them), the rest distinct.
    * Each family and each singleton is its own `source`, so a
    * per-source survivor count says exactly what was merged. Doc ids
    * are a seeded permutation, so a family's base is not always its
    * lowest id.
    */
  def shard(seed: Long, shardNo: Int, n: Int): Array[Doc] = {
    val r = rng(seed, s"shard-$shardNo")
    val out = Array.newBuilder[(String, String, String)]
    var produced = 0
    var fam = 0
    while (produced < n) {
      val kind = r.nextInt(20)
      val len = 80 + r.nextInt(120)
      if (kind < 4 && produced + 1 + EditRates.length <= n) {
        val base = words(r, len, EnStop)
        out += ((base.mkString(" "), s"f$fam", "base"))
        EditRates.foreach { rate =>
          val copy = base.clone()
          val edits = math.round(rate * len).toInt
          (0 until edits).foreach(_ => copy(r.nextInt(len)) = Vocab(r.nextInt(Vocab.length)))
          out += ((copy.mkString(" "), s"f$fam", s"copy@$rate"))
        }
        produced += 1 + EditRates.length
      } else if (kind == 4) {
        out += ((words(r, len, DeStop).mkString(" "), s"g$fam", "gated"))
        produced += 1
      } else {
        out += ((words(r, len, EnStop).mkString(" "), s"s$fam", "distinct"))
        produced += 1
      }
      fam += 1
    }
    val rows = out.result()
    val perm = (0 until rows.length).toArray
    var i = perm.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t; i -= 1 }
    rows.indices.map { i =>
      val (text, source, role) = rows(i)
      Doc(perm(i).toLong + shardNo.toLong * 1000000L, text, source, role)
    }.toArray
  }

  /** Stable digest of generated inputs, for the generators' own check. */
  def digest(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update(p.getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def vecDigest(vs: Iterator[Array[Float]]): String =
    digest(vs.map(v => v.map(java.lang.Float.floatToIntBits).mkString(",")))
}
