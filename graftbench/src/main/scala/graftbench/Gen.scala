package graftbench

import java.sql.Timestamp

import scala.util.Random

/** Seeded input generators. The same seed gives the same inputs; every
  * generator draws from its own `Random(seed)`, so one workload's inputs do
  * not depend on what another generator consumed.
  */
object Gen {

  /** A fixed pseudo-English vocabulary: 2400 distinct lowercase words of
    * 2-3 syllables. It never contains the letters `q`, `x` or `z`, so the
    * planted rare tokens below (`qz...`) cannot collide with it.
    */
  val Vocab: Vector[String] = {
    val onsets = Vector("b", "br", "c", "ch", "d", "dr", "f", "g", "gr", "h",
      "k", "l", "m", "n", "p", "pl", "r", "s", "st", "t", "tr", "v", "w")
    val vowels = Vector("a", "e", "i", "o", "u", "ai", "ea", "ou")
    val codas = Vector("", "n", "r", "l", "s", "t", "m", "nd", "st")
    val r = new Random(7L)
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < 2400) {
      val syl = 2 + r.nextInt(2)
      val w = (0 until syl).map { _ =>
        onsets(r.nextInt(onsets.size)) + vowels(r.nextInt(vowels.size)) +
          codas(r.nextInt(codas.size))
      }.mkString
      if (w.length >= 4 && w.length <= 11) out += w
    }
    out.toVector
  }

  /** Zipf-like rank draw over the vocabulary (s ~ 1): a few words appear
    * in many texts, most in few.
    */
  def zipfWord(r: Random): String = {
    val u = r.nextDouble()
    val idx = (math.pow(Vocab.size.toDouble, u) - 1.0).toInt
    Vocab(math.min(Vocab.size - 1, math.max(0, idx)))
  }

  def words(r: Random, n: Int): Seq[String] = Seq.fill(n)(zipfWord(r))

  /** Rare planted token number `i`: `qz` + base-26 letters, never in
    * [[Vocab]] and never a substring of a vocabulary word.
    */
  def rareToken(i: Int): String = {
    val sb = new StringBuilder("qz")
    var k = i
    do { sb.append(('a' + k % 26).toChar); k /= 26 } while (k > 0)
    sb.append("x").toString
  }

  /** Zero-padded decimal ids: they sort as numbers do, and they cast to
    * BIGINT where an operator needs a numeric key.
    */
  def memId(i: Int): String = f"$i%06d"

  // ---------------------------------------------------------------- recall

  /** One raw memory of the recall store. */
  final case class RawMemory(id: String, content: String, tags: Seq[String],
      importance: Double, timestamp: Timestamp, metadata: String)

  /** One recall question and the ids of the memories planted for it; the
    * top k must hold at least one of them.
    */
  final case class Question(query: String, evidence: Seq[String])

  final case class RecallCorpus(memories: Seq[RawMemory],
      questions: Seq[Question])

  val RecallNow: Timestamp = Timestamp.valueOf("2026-01-01 00:00:00")
  private val Day = 86400000L
  private val Tags = Vector("work", "home", "infra", "design", "review",
    "ops", "research", "travel")

  /** Share of questions of each kind, per 20 questions: 8 rare-token, 6
    * common-token, 4 metadata-term and 2 trend-only.
    */
  private val KindCycle: Vector[String] =
    (Vector.fill(8)("rare") ++ Vector.fill(6)("common") ++
      Vector.fill(4)("metadata") ++ Vector.fill(2)("trend"))

  /** A memory store of `n` rows and `nQuestions` questions, each with a
    * planted evidence memory:
    *   - rare: the evidence alone carries a `qz...` token, in its content
    *     and as a tag; the question is that token;
    *   - common: two vocabulary words of frequency ranks 40 to 99 (each in
    *     about 2% to 4% of the memories), planted as an adjacent phrase
    *     and as tags in the evidence only (elsewhere they occur apart, in
    *     content);
    *   - metadata: `project <name>`, where the evidence alone carries
    *     `{"project": "<name>"}` in its metadata;
    *   - trend: `*`; the evidence is five pinned memories with importance
    *     1.0, dated the day before the recall clock. A pinned memory that
    *     the vector channel also returns is scored as a vector hit, without
    *     its trending score (`Recall.scoreCandidates`), so the question
    *     asks for any one of the five.
    * All other memories have importance at most 0.8.
    */
  def recallCorpus(seed: Long, n: Int, nQuestions: Int): RecallCorpus = {
    val r = new Random(seed * 1000003L + 11L)
    val base = RecallNow.getTime - 400L * Day
    def plain(i: Int): RawMemory = {
      val ws = words(r, 10 + r.nextInt(16))
      val tags = Seq(Tags(r.nextInt(Tags.size)), Tags(r.nextInt(Tags.size)))
        .distinct
      RawMemory(memId(i), ws.mkString(" ") + ".", tags,
        math.round(r.nextDouble() * 0.8 * 1000) / 1000.0,
        new Timestamp(base + (r.nextDouble() * 395 * Day).toLong), "{}")
    }
    val mems = Array.tabulate(n)(plain)
    val pinned = (0 until 5).map(k => (k * 97 + 5) % n)
    pinned.zipWithIndex.foreach { case (i, k) =>
      mems(i) = mems(i).copy(importance = 1.0,
        timestamp = new Timestamp(RecallNow.getTime - Day - k * 3600000L))
    }
    // evidence memories are drawn without replacement from the non-pinned
    // rows, so no memory is evidence for two questions
    val free = r.shuffle((0 until n).filterNot(pinned.contains).toVector)
    val mid = Vocab.slice(40, 100)
    val questions = (0 until nQuestions).map { qi =>
      val kind = KindCycle(qi % KindCycle.size)
      if (kind == "trend") Question("*", pinned.map(memId))
      else {
        val ei = free(qi)
        val m = mems(ei)
        kind match {
          case "rare" =>
            val tok = rareToken(qi)
            mems(ei) = m.copy(content = s"${m.content} Marked $tok here.",
              tags = m.tags :+ tok)
            Question(tok, Seq(m.id))
          case "common" =>
            val a = mid(r.nextInt(mid.size))
            var b = mid(r.nextInt(mid.size))
            while (b == a) b = mid(r.nextInt(mid.size))
            mems(ei) = m.copy(content = s"${m.content} Then $a $b again.",
              tags = m.tags ++ Seq(a, b))
            Question(s"$a $b", Seq(m.id))
          case "metadata" =>
            val name = "proj" + rareToken(qi).drop(2)
            mems(ei) = m.copy(metadata = s"""{"project": "$name"}""")
            Question(s"project $name", Seq(m.id))
        }
      }
    }
    RecallCorpus(mems.toSeq, questions)
  }

  // ---------------------------------------------------------- memory build

  /** One raw memory of the build workload; `family` is the planted
    * near-duplicate family (-1 for none), `dupOf` the id this row is an
    * exact copy of (content and timestamp), if any.
    */
  final case class BuildMemory(id: String, content: String, tags: Seq[String],
      importance: Double, timestamp: Timestamp, family: Int,
      dupOf: Option[String])

  val BuildNow: Timestamp = Timestamp.valueOf("2026-01-10 00:00:00")
  private val People = Vector("Alice Morgan", "Brian Okafor", "Carla Diaz",
    "Dmitri Volkov", "Elena Rossi", "Farid Haddad")
  private val ToolNames = Vector("kubectl", "terraform", "grafana", "airflow",
    "postgres", "redis")
  private val Projects = Vector("Orion", "Nimbus", "Falcon", "Atlas")
  private val Cues = Vector("We decided to", "I prefer to", "Daily routine:",
    "I realized we should", "Style convention:", "Note:")

  /** `n` raw memories. One id in twelve sits in a near-duplicate family
    * of 5, 6 or 7 members (sizes cycle): one base text plus variants that
    * each change one word, so every pair of a family stays above cosine
    * 0.75 and every family is one cluster. One id in fifty is an exact
    * copy (same content and timestamp) of the plain memory before it. A
    * third of the memories mention a person, a tool or a project. The
    * counts depend on `n` only; the seed moves texts, dates and places.
    */
  def buildCorpus(seed: Long, n: Int): Seq[BuildMemory] = {
    val r = new Random(seed * 7919L + 3L)
    val base = BuildNow.getTime - 500L * Day
    // random-letter words: syllable words share character n-grams, which
    // makes subword embeddings of unrelated texts correlate
    def word(): String =
      Seq.fill(5 + r.nextInt(5))(('a' + r.nextInt(26)).toChar).mkString
    def text(i: Int): String = {
      val cue = Cues(i % Cues.size)
      val body = Seq.fill(14 + r.nextInt(10))(word()).mkString(" ")
      val mention = i % 9 match {
        case 0 => s" Met with ${People(r.nextInt(People.size))} about it."
        case 1 => s" Using `${ToolNames(r.nextInt(ToolNames.size))}` for this."
        case 2 => s" Part of the project called ${Projects(r.nextInt(Projects.size))}."
        case _ => ""
      }
      s"$cue $body.$mention"
    }
    def stamp(): Timestamp =
      new Timestamp(base + (r.nextDouble() * 495 * Day).toLong)
    def imp(): Double = math.round(r.nextDouble() * 1000) / 1000.0
    val famSizes = Iterator.from(0).map(k => 5 + k % 3)
      .scanLeft(0)(_ + _).takeWhile(_ <= n / 12).toSeq
    val nFam = famSizes.size - 1
    val nDup = n / 50
    // slot kinds: family members, exact copies, plain; shuffled by seed
    val kinds = r.shuffle(
      (0 until nFam).map(f => ("family", f)) ++
        Seq.fill(nDup)(("dup", -1)) ++
        Seq.fill(n - famSizes.last - 2 * nDup)(("plain", -1))).toVector
    val out = scala.collection.mutable.ArrayBuffer.empty[BuildMemory]
    kinds.foreach {
      case ("family", f) =>
        val size = famSizes(f + 1) - famSizes(f)
        val baseText = text(out.size)
        val toks = baseText.split(" ")
        (0 until size).foreach { k =>
          val t = if (k == 0) baseText else {
            val ws = toks.clone()
            // replace one body word (never the cue's first word)
            val pos = 3 + r.nextInt(ws.length - 4)
            ws(pos) = word()
            ws.mkString(" ")
          }
          out += BuildMemory(memId(out.size), t, Seq("family"), imp(),
            stamp(), f, None)
        }
      case ("dup", _) =>
        val orig = BuildMemory(memId(out.size), text(out.size),
          Seq(Tags(r.nextInt(Tags.size))), imp(), stamp(), -1, None)
        out += orig
        out += orig.copy(id = memId(out.size), dupOf = Some(orig.id))
      case _ =>
        out += BuildMemory(memId(out.size), text(out.size),
          Seq(Tags(r.nextInt(Tags.size))), imp(), stamp(), -1, None)
    }
    out.toSeq
  }

  // ----------------------------------------------------------- corpus prep

  /** One generated document; `dupOf` is the document it is an exact copy
    * of, `pii` the email and phone number planted in it.
    */
  final case class Doc(docId: Long, source: String, text: String,
      dupOf: Option[Long], pii: Seq[String])

  val Sources: Vector[String] = Vector("wiki", "news", "forum", "blog")
  private val Stop = Vector("the", "of", "and", "is", "a", "to", "in")

  /** English-like prose: sentences of 8-14 words, roughly one word in
    * three a stopword, a period per sentence. It passes the language,
    * quality and repetition gates.
    */
  private def prose(r: Random, sentences: Int): String =
    (0 until sentences).map { _ =>
      val ws = (0 until 8 + r.nextInt(7)).map { _ =>
        if (r.nextInt(3) == 0) Stop(r.nextInt(Stop.size)) else zipfWord(r)
      }
      ws.mkString(" ") + "."
    }.mkString(" ")

  /** `n` documents: 12% carry a planted email and phone number, 5% are
    * boilerplate (one phrase repeated), 3% are in another language, and
    * 8% more are exact copies of earlier documents appended after them.
    * The counts depend on `n` only; the seed moves texts and places.
    */
  def corpus(seed: Long, n: Int): Seq[Doc] = {
    val r = new Random(seed * 104729L + 5L)
    val nDup = n * 8 / 100
    val nBase = n - nDup
    val planted = Seq.fill(n * 12 / 100)("pii") ++
      Seq.fill(n * 5 / 100)("boiler") ++ Seq.fill(n * 3 / 100)("foreign")
    // clean documents fill up to exactly nBase, so every copy below draws
    // its original from an existing document
    val kinds = r.shuffle(planted ++
      Seq.fill(nBase - planted.size)("clean")).toVector
    val docs = kinds.zipWithIndex.map { case (kind, i) =>
      val src = Sources(r.nextInt(Sources.size))
      kind match {
        case "pii" =>
          val email = s"user${i}.mail${r.nextInt(1000)}@example.com"
          val phone = f"+1 ${200 + r.nextInt(800)}%03d-${r.nextInt(10000)}%04d"
          val t = prose(r, 5 + r.nextInt(4)) +
            s" Write to $email or call $phone for the details. " +
            prose(r, 2)
          Doc(i.toLong, src, t, None, Seq(email, phone))
        case "boiler" =>
          val phrase = "click here to subscribe to the newsletter now"
          Doc(i.toLong, src, Seq.fill(30)(phrase).mkString(" "), None, Nil)
        case "foreign" =>
          val es = Vector("el", "la", "de", "que", "los", "una", "por")
          val t = (0 until 90).map(_ => es(r.nextInt(es.size)) + " " +
            zipfWord(r)).mkString(" ") + "."
          Doc(i.toLong, src, t, None, Nil)
        case _ => Doc(i.toLong, src, prose(r, 7 + r.nextInt(6)), None, Nil)
      }
    }
    val dups = (0 until nDup).map { k =>
      val orig = docs(r.nextInt(nBase))
      Doc((nBase + k).toLong, orig.source, orig.text, Some(orig.docId),
        orig.pii)
    }
    docs ++ dups
  }
}
