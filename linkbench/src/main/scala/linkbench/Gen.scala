package linkbench

import scala.util.Random

/** Seeded input generators. Every generator is a pure function of its seed: the
  * same seed gives the same rows in the same order. The true entity of every
  * record stays in the returned `truth` map and is never part of the rows handed
  * to the program.
  */
object Gen {

  /** One person record; `uid` is the only key the program sees. */
  final case class Person(uid: String, first: String, surname: String, dob: String,
      city: String, postcode: String)

  final case class People(rows: Seq[Person], truth: Map[String, Int])

  final case class Doc(id: String, text: String)

  final case class Corpus(rows: Seq[Doc], truth: Map[String, Int])

  // Value pools are fixed (seed 7) so every run seed draws from the same
  // population; the run seed decides which entities exist and how they are corrupted.
  private val syllables = Seq("ka", "ri", "mo", "an", "le", "su", "to", "ba", "el",
    "na", "vi", "do", "ra", "ne", "li", "ma", "jo", "se", "ta", "ha", "ro", "mi",
    "ce", "lu", "pa", "de", "ni", "go", "fa", "we")
  private def pool(rnd: Random, size: Int, minSyl: Int, maxSyl: Int): IndexedSeq[String] = {
    val out = scala.collection.mutable.LinkedHashSet[String]()
    while (out.size < size)
      out += Seq.fill(minSyl + rnd.nextInt(maxSyl - minSyl + 1))(
        syllables(rnd.nextInt(syllables.size))).mkString
    out.toIndexedSeq
  }
  private val poolRnd = new Random(7L)
  private val firstNames = pool(poolRnd, 400, 2, 3)
  private val surnames = pool(poolRnd, 2500, 2, 4)
  private val cities = pool(poolRnd, 150, 2, 4)
  private val postcodes = IndexedSeq.tabulate(600)(i => f"${1000 + i * 13}%04d")
  private val words = pool(poolRnd, 4000, 1, 4)

  /** Zipf-like index in [0, n): low indices are common, as with real names. */
  private def skewed(rnd: Random, n: Int): Int =
    math.min(n - 1, (n * math.pow(rnd.nextDouble(), 2.5)).toInt)

  private def entity(rnd: Random, uid: String): Person = Person(uid,
    firstNames(skewed(rnd, firstNames.size)),
    surnames(skewed(rnd, surnames.size)),
    f"${1930 + rnd.nextInt(75)}%04d-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d",
    cities(skewed(rnd, cities.size)),
    postcodes(rnd.nextInt(postcodes.size)))

  /** One character-level corruption: typo, transposition, dropped char, or null. */
  private def corrupt(rnd: Random, s: String): String = {
    if (s == null || s.length < 2) return s
    val i = rnd.nextInt(s.length - 1)
    rnd.nextInt(4) match {
      case 0 => s.updated(i, ('a' + rnd.nextInt(26)).toChar)
      case 1 => s.substring(0, i) + s(i + 1) + s(i) + s.substring(i + 2)
      case 2 => s.substring(0, i) + s.substring(i + 1)
      case _ => null
    }
  }

  /** A copy with one or two of its five attributes corrupted. */
  private def corruptedCopy(rnd: Random, p: Person): Person = {
    val fields = Array(p.first, p.surname, p.dob, p.city, p.postcode)
    rnd.shuffle((0 until 5).toList).take(1 + rnd.nextInt(2))
      .foreach(i => fields(i) = corrupt(rnd, fields(i)))
    Person(p.uid, fields(0), fields(1), fields(2), fields(3), fields(4))
  }

  /** Dedupe input: `entities` people, a `dupShare` of them with 1–3 corrupted copies,
    * all in one shuffled table.
    */
  def people(seed: Long, entities: Int, dupShare: Double = 0.3): People = {
    val rnd = new Random(seed)
    val rows = scala.collection.mutable.ArrayBuffer[(Person, Int)]()
    (0 until entities).foreach { e =>
      val orig = entity(rnd, "")
      rows += orig -> e
      if (rnd.nextDouble() < dupShare)
        (1 to 1 + rnd.nextInt(3)).foreach(_ => rows += corruptedCopy(rnd, orig) -> e)
    }
    val shuffled = rnd.shuffle(rows.toSeq).zipWithIndex.map { case ((p, e), i) =>
      (p.copy(uid = f"p$i%06d"), e)
    }
    People(shuffled.map(_._1), shuffled.map { case (p, e) => p.uid -> e }.toMap)
  }

  /** Link input: every entity once on the left; on the right one corrupted copy of
    * each, plus a second copy for `extraShare` of them. The right side's dates are
    * written day/month/year (its columns are renamed by the caller).
    */
  def linkPair(seed: Long, entities: Int, extraShare: Double = 0.2): (People, People) = {
    val rnd = new Random(seed)
    val left = (0 until entities).map(e => entity(rnd, f"l$e%06d") -> e)
    val right = left.flatMap { case (p, e) =>
      Seq.fill(if (rnd.nextDouble() < extraShare) 2 else 1)(corruptedCopy(rnd, p) -> e)
    }
    val rightRows = rnd.shuffle(right).zipWithIndex.map { case ((p, e), i) =>
      (p.copy(uid = f"r$i%06d", dob = dayFirst(p.dob)), e)
    }
    (People(left.map(_._1), left.map { case (p, e) => p.uid -> e }.toMap),
      People(rightRows.map(_._1), rightRows.map { case (p, e) => p.uid -> e }.toMap))
  }

  private def dayFirst(iso: String): String = iso match {
    case null => null
    case s if s.length == 10 && s(4) == '-' && s(7) == '-' =>
      s"${s.substring(8, 10)}/${s.substring(5, 7)}/${s.substring(0, 4)}"
    case s => s
  }

  /** Corpus: `docs` documents of 40–80 words; a `dupShare` of the base documents get
    * 1–3 near-copies with about 5% of their words replaced.
    */
  def corpus(seed: Long, docs: Int, dupShare: Double = 0.2): Corpus = {
    val rnd = new Random(seed)
    val rows = scala.collection.mutable.ArrayBuffer[(String, Int)]()
    var group = 0
    while (rows.size < docs) {
      val base = Seq.fill(40 + rnd.nextInt(41))(words(skewed(rnd, words.size)))
      rows += base.mkString(" ") -> group
      if (rnd.nextDouble() < dupShare)
        (1 to 1 + rnd.nextInt(3)).foreach { _ =>
          rows += base.map(w =>
            if (rnd.nextDouble() < 0.05) words(rnd.nextInt(words.size)) else w)
            .mkString(" ") -> group
        }
      group += 1
    }
    val shuffled = rnd.shuffle(rows.take(docs).toSeq).zipWithIndex.map {
      case ((t, g), i) => (Doc(f"d$i%06d", t), g)
    }
    Corpus(shuffled.map(_._1), shuffled.map { case (d, g) => d.id -> g }.toMap)
  }

  /** Row count plus a content hash of the rows, in row order. */
  def fingerprint(rows: Seq[Product]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      md.update(r.productIterator.map(String.valueOf).mkString("\u0001").getBytes("UTF-8"))
      md.update('\n'.toByte)
    }
    f"${rows.size}:${md.digest().take(8).map(b => f"$b%02x").mkString}"
  }
}
