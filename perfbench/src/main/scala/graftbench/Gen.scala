package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Seeded input generators. Everything here is plain Scala over
  * `java.util.Random(seed)`: the same seed and size give byte-identical
  * files, and graft only ever sees the files. */
object Gen {

  private val FS = "\u0001" // PigMix field separator
  private val ES = "\u0002" // bag element separator
  private val MS = "\u0003" // map entry separator
  private val KV = "\u0004" // map key/value separator

  def writeLines(p: Path, lines: Iterator[String]): Unit = {
    Files.createDirectories(p.getParent)
    val w = Files.newBufferedWriter(p, UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  // ------------------------------------------------------------ PigMix

  /** Sizes of one PigMix data set. `users` bounds the distinct users in
    * page_views; a few users never view a page (L5's anti-join). */
  final case class PigMixSize(pageViews: Int, users: Int, wideRows: Int)

  /** One page_views row in PigMix's wire format
    * (datagen/DataGenerator.java:writeCol): ^A fields, ^C/^D maps and
    * ^B-separated, type-tagged bag elements. About 5% of users and 3%
    * of query terms are empty (nulls after load). */
  private def pageView(rnd: java.util.Random, users: Int): String = {
    val user = if (rnd.nextInt(100) < 5) "" else "user" + zipf(rnd, users)
    val action = (1 + rnd.nextInt(2)).toString
    val timespent = rnd.nextInt(100).toString
    val term = if (rnd.nextInt(100) < 3) "" else "term" + zipf(rnd, 2000)
    val ip = s"10.${rnd.nextInt(4)}.${rnd.nextInt(64)}.${rnd.nextInt(256)}"
    val ts = rnd.nextInt(86400).toString
    val rev = f"${rnd.nextInt(100000) / 100.0}%.2f"
    val info = ('a' to 'f').map(k => s"$k${KV}v${rnd.nextInt(10)}")
      .mkString(MS)
    val links = (0 until 2 + rnd.nextInt(2)).map { _ =>
      "m" + ('a' to 'c').map(k => s"$k${KV}w${rnd.nextInt(10)}").mkString(MS)
    }.mkString(ES)
    Seq(user, action, timespent, term, ip, ts, rev, info, links).mkString(FS)
  }

  /** Skewed pick in [0, n): a few heavy keys, a long tail (PigMix's
    * user and term columns are Zipf-distributed). */
  private def zipf(rnd: java.util.Random, n: Int): Int =
    math.min(n - 1, (math.pow(n.toDouble, rnd.nextDouble()) - 1).toInt)

  private def userRow(name: String, rnd: java.util.Random): String =
    Seq(name, f"555-${rnd.nextInt(10000)}%04d",
      s"${rnd.nextInt(999)} Main St", "city" + rnd.nextInt(50),
      "st" + rnd.nextInt(50), f"${rnd.nextInt(100000)}%05d").mkString(FS)

  /** The PigMix tables under `dir`: page_views, users, power_users,
    * power_users_samples, widerow, and the sorted / widened derivatives
    * that the suite's generate_data.sh builds with Pig. The derivatives
    * are written here instead, so that they do not depend on the engine
    * under test (and the sample is deterministic). */
  def pigmix(dir: Path, seed: Long, size: PigMixSize): Unit = {
    val rnd = new java.util.Random(seed)
    val pv = Array.fill(size.pageViews)(pageView(rnd, size.users))
    writeLines(dir.resolve("page_views/part-00000"), pv.iterator)
    val userOf = (l: String) => l.substring(0, l.indexOf(FS))
    writeLines(dir.resolve("page_views_sorted/part-00000"),
      pv.sortBy(userOf).iterator)
    val names = pv.iterator.map(userOf).filter(_.nonEmpty).toSet.toSeq.sorted
    val urnd = new java.util.Random(seed * 31 + 7)
    val users = (names ++ (1 to 25).map("ghost" + _)).map(n =>
      userRow(n, urnd))
    writeLines(dir.resolve("users/part-00000"), users.iterator)
    writeLines(dir.resolve("users_sorted/part-00000"), users.sorted.iterator)
    val power = users.filter(_ => urnd.nextInt(10) == 0)
    writeLines(dir.resolve("power_users/part-00000"), power.iterator)
    writeLines(dir.resolve("power_users_samples/part-00000"),
      power.filter(_ => urnd.nextBoolean()).iterator)
    writeLines(dir.resolve("widerow/part-00000"),
      Iterator.fill(size.wideRows)(("wuser" + urnd.nextInt(size.users)) +
        FS + Iterator.fill(500)(urnd.nextInt(10000)).mkString(FS)))
    writeLines(dir.resolve("widegroupbydata/part-00000"),
      pv.iterator.map(l => Seq.fill(3)(l).mkString(FS)))
  }

  // ---------------------------------------------------------- documents

  /** Function words per language. They are the words graft's language
    * identifier and quality scorer key on, so the language mix of the
    * corpus is the mix of these tables. */
  private val stop: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for",
      "with", "as", "on", "by", "this", "a"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein",
      "zu", "den", "von", "im", "auf"),
    "fr" -> Seq("le", "la", "les", "et", "est", "que", "pour", "dans",
      "une", "des", "du", "au", "sur"),
    "es" -> Seq("el", "los", "las", "y", "es", "que", "por", "para", "una",
      "del", "con", "se", "un"))

  /** Language mix of generated documents; "spam" is symbol and number
    * soup, which the quality filter is expected to drop. */
  val LangMix: Seq[(String, Int)] =
    Seq("en" -> 55, "de" -> 12, "fr" -> 12, "es" -> 11, "spam" -> 10)

  private val syllables = Seq("ka", "lo", "mi", "ren", "tu", "sa", "vo",
    "ne", "pri", "da", "gor", "el", "ti", "mun", "ba", "fe", "zo", "qui",
    "ral", "es", "po", "ny", "ch", "ar")

  /** A content vocabulary of pseudo-words, fixed per seed. */
  private def vocab(rnd: java.util.Random, n: Int): IndexedSeq[String] =
    IndexedSeq.fill(n)(Seq.fill(2 + rnd.nextInt(3))(
      syllables(rnd.nextInt(syllables.size))).mkString)

  private def pickLang(rnd: java.util.Random): String = {
    var r = rnd.nextInt(LangMix.map(_._2).sum)
    LangMix.find { case (_, w) => r -= w; r < 0 }.get._1
  }

  /** Body text of one document: 40–160 words, about a third of them
    * function words of its language. */
  private def prose(rnd: java.util.Random, lang: String,
                    words: IndexedSeq[String]): String = {
    val n = 40 + rnd.nextInt(121)
    val sw = stop.getOrElse(lang, Seq.empty)
    Iterator.fill(n) {
      if (lang == "spam")
        Seq("$$$", "#" + rnd.nextInt(9999), "!!!", "%%", words(rnd.nextInt(50)),
          rnd.nextInt(99999).toString, ">>>")(rnd.nextInt(7))
      else if (rnd.nextInt(3) == 0) sw(rnd.nextInt(sw.size))
      else words(zipf(rnd, words.size))
    }.mkString(" ")
  }

  /** Rewrites one word, and about 1 in 80 of the others: a near
    * duplicate that is never an exact one, with word 3-gram Jaccard
    * similarity to the original near 0.9. */
  private def perturb(rnd: java.util.Random, text: String,
                      words: IndexedSeq[String]): String = {
    val ws = text.split(' ')
    val forced = rnd.nextInt(ws.length)
    ws.indices.map(i =>
      if (i == forced || rnd.nextInt(80) == 0) words(rnd.nextInt(words.size))
      else ws(i)).mkString(" ")
  }

  /** Plain-text documents with planted duplicates. Of every 100 docs,
    * about `exactPct` repeat an earlier doc's text verbatim and
    * `nearPct` are near copies of an earlier doc; the rest are fresh. */
  final case class DocsSpec(docs: Int, exactPct: Int, nearPct: Int)

  def documents(seed: Long, spec: DocsSpec, firstId: Long = 0L,
                earlier: IndexedSeq[String] = IndexedSeq.empty)
      : IndexedSeq[(Long, String)] = {
    val rnd = new java.util.Random(seed)
    val words = vocab(new java.util.Random(seed ^ 0x5eedL), 6000)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    texts ++= earlier
    (0 until spec.docs).map { i =>
      val roll = rnd.nextInt(100)
      val text =
        if (texts.nonEmpty && roll < spec.exactPct)
          texts(rnd.nextInt(texts.size))
        else if (texts.nonEmpty && roll < spec.exactPct + spec.nearPct)
          perturb(rnd, texts(rnd.nextInt(texts.size)), words)
        else prose(rnd, pickLang(rnd), words)
      texts += text
      (firstId + i, text)
    }
  }

  /** Wraps a document as a crawled HTML page, in the shape of graft's
    * pipeline timing tool: navigation and footer boilerplate, a robots
    * noindex meta on ~1 page in 31 and a rotating Unicode tail
    * (decomposed accents, zero-width and control characters). */
  def htmlPage(id: Long, text: String): String = {
    val robots =
      if (id % 31 == 0) "<meta name=\"robots\" content=\"noindex\">" else ""
    val tail = (id % 4).toInt match {
      case 0 => " cafe\u0301 deco\u0301mposed"
      case 1 => " zero\u200Bwidth\u200Djoin\uFEFFbom\u00ADsoft"
      case 2 => " ctrl\u0007bell\u001Besc"
      case _ => " caf\u00E9 precomposed"
    }
    s"<html><head><title>Site T$id</title>$robots" +
      "<style>nav {color: blue}</style></head><body>" +
      "<nav><a href=\"/\">Home page</a> <a href=\"/about\">About us</a> " +
      "<a href=\"/contact\">Contact info</a></nav><p>" + text + tail +
      "</p><div>Copyright 2026 Example Corp</div><p>Read more: " +
      "<a href=\"/next\">the next related article in this series</a>" +
      "</p></body></html>"
  }

  def url(id: Long): String = s"https://d${id % 97}.example.com/p/$id"

  /** One corpus file: `id \t url \t html` per line. */
  def writeCorpus(p: Path, docs: Seq[(Long, String)]): Unit =
    writeLines(p, docs.iterator.map { case (id, t) =>
      s"$id\t${url(id)}\t${htmlPage(id, t)}" })

  /** One text file: `id \t text` per line. */
  def writeTexts(p: Path, docs: Seq[(Long, String)]): Unit =
    writeLines(p, docs.iterator.map { case (id, t) => s"$id\t$t" })
}
