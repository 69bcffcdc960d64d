package perfbench

/** SplitMix64 (Steele, Lea & Flood, OOPSLA 2014): a fully specified
  * 64-bit generator, so one seed yields the same bytes on every JVM and
  * consecutive seeds still give unrelated streams. */
final class Rng(seed: Long) {
  private var state = seed
  def nextLong(): Long = {
    state += 0x9E3779B97F4A7C15L
    var z = state
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
}

/** Seeded synthetic Markdown knowledge base with topic-clustered
  * vocabulary, frontmatter tags and headings, plus the query mix.
  *
  * Every section body stays under the chunker's 512-character chunk
  * size, so each section (and the intro under the H1) is one chunk and a
  * corpus of `n` docs holds about 5.5·n chunks. */
object Gen {

  final case class Doc(path: String, content: String)

  /** `kind` is "common" (the base sentence plus topic words), "rare"
    * (a term present in a handful of chunks) or "absent" (a term no
    * document contains), so BM25 postings slices vary in size. */
  final case class Query(text: String, kind: String)

  final case class Topic(slug: String, sentence: String, words: Vector[String])

  /** The reference's query mix is ten tech-topic sentences; these are
    * ours, one per topic cluster. */
  val Topics: Vector[Topic] = Vector(
    Topic("vector-db", "how do vector databases index embeddings for similarity search",
      Vector("vector", "embedding", "index", "similarity", "cosine", "ann", "hnsw", "quantization",
        "recall", "neighbor", "dimension", "centroid")),
    Topic("kubernetes", "what are best practices for scaling kubernetes clusters in production",
      Vector("kubernetes", "pod", "cluster", "node", "autoscaler", "deployment", "helm",
        "ingress", "namespace", "replica", "scheduler", "container")),
    Topic("rust", "how does the rust borrow checker guarantee memory safety",
      Vector("rust", "borrow", "lifetime", "ownership", "memory", "safety", "trait", "unsafe",
        "compiler", "reference", "allocation", "cargo")),
    Topic("transformers", "explain attention mechanisms in transformer language models",
      Vector("attention", "transformer", "token", "layer", "head", "softmax", "encoder",
        "decoder", "embedding", "context", "pretraining", "model")),
    Topic("consensus", "how does raft consensus handle leader election and log replication",
      Vector("raft", "consensus", "leader", "election", "log", "replication", "quorum", "term",
        "follower", "heartbeat", "commit", "paxos")),
    Topic("react", "what is the best way to manage state in large react applications",
      Vector("react", "state", "component", "hook", "redux", "render", "props", "context",
        "reducer", "store", "effect", "memo")),
    Topic("postgres", "how to optimize slow postgres queries with indexes and explain plans",
      Vector("postgres", "query", "index", "explain", "planner", "vacuum", "btree", "join",
        "sequential", "statistics", "table", "transaction")),
    Topic("tls", "how does tls certificate validation protect against man in the middle attacks",
      Vector("tls", "certificate", "validation", "handshake", "cipher", "authority", "chain",
        "revocation", "key", "signature", "trust", "encryption")),
    Topic("ci-cd", "how to design a reliable continuous integration and deployment pipeline",
      Vector("pipeline", "integration", "deployment", "build", "artifact", "test", "release",
        "rollback", "runner", "stage", "canary", "workflow")),
    Topic("spark", "how to tune apache spark jobs for shuffle heavy data pipelines",
      Vector("spark", "shuffle", "partition", "executor", "stage", "task", "skew", "broadcast",
        "catalyst", "dataframe", "spill", "pipeline"))
  )

  /** Filler shared by every topic: the unclustered part of the text. */
  val Common: Vector[String] = Vector(
    "the", "a", "of", "and", "to", "in", "is", "for", "that", "with", "on", "as", "it", "by",
    "this", "be", "are", "from", "or", "at", "an", "we", "can", "when", "which", "each",
    "system", "data", "use", "time", "case", "value", "change", "result", "approach", "design",
    "problem", "example", "performance", "cost", "large", "small", "first", "new", "more",
    "most", "other", "many", "through", "between", "under", "after", "before", "without",
    "often", "usually", "also", "then", "because", "while", "every", "same", "different",
    "important", "simple", "common", "practice", "pattern", "behaviour", "failure", "request",
    "limit", "setting", "version", "service", "process", "update", "support", "check", "run")

  private val Syllables = Vector("ka", "lo", "mi", "ren", "tor", "vex", "qui", "zan", "bel",
    "dro", "fen", "gal", "hu", "jor", "nix", "pra", "sil", "tev", "ul", "wy")

  /** Per-topic jargon: pseudo-words drawn from a fixed stream (not the
    * workload seed), so the vocabulary is part of the generator's
    * definition and only documents and queries depend on the seed. */
  val Jargon: Vector[Vector[String]] = {
    val r = new Rng(0x7E5EED)
    Topics.indices.toVector.map { t =>
      (0 until 48).map { _ =>
        (0 until 2 + r.nextInt(2)).map(_ => Syllables(r.nextInt(Syllables.size))).mkString
      }.distinct.toVector.map(w => s"$w${Topics(t).slug.take(2)}")
    }
  }

  /** Rare terms: each lands in a few chunks. Absent terms share no
    * prefix with anything the generator writes. */
  val RarePool = 400
  def rareTerm(i: Int): String = f"zqr$i%03d"
  def absentTerm(i: Int): String = f"xnabsent$i%03d"

  private final class Zipf(n: Int, s: Double) {
    private val cum = {
      val w = (1 to n).map(r => 1.0 / math.pow(r, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def sample(r: Rng): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cum, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private val topicZipf = new Zipf(Topics.size, 0.4)
  private val wordZipf = new Zipf(12 + 48, 0.9)
  private val commonZipf = new Zipf(Common.size, 1.0)
  val Tags: Vector[String] = Vector("howto", "reference", "draft", "deep-dive", "notes",
    "checklist", "postmortem", "tutorial", "faq", "benchmark", "design-doc", "archive")
  private val tagZipf = new Zipf(Tags.size, 1.1)

  private def topicWord(t: Int, r: Rng): String = {
    val i = wordZipf.sample(r)
    if (i < 12) Topics(t).words(i) else Jargon(t)(math.min(i - 12, Jargon(t).size - 1))
  }

  private def sentence(t: Int, second: Int, r: Rng, words: Int): String = {
    val ws = (0 until words).map { _ =>
      val u = r.nextDouble()
      if (u < 0.55) topicWord(t, r)
      else if (u < 0.65) topicWord(second, r)
      else Common(commonZipf.sample(r))
    }
    val s = ws.mkString(" ")
    s.head.toUpper + s.tail + "."
  }

  private def paragraph(t: Int, second: Int, r: Rng, rare: Boolean): String = {
    val body = (0 until 4).map(_ => sentence(t, second, r, 7 + r.nextInt(5)))
    val withRare =
      if (rare) body :+ s"See ${rareTerm(r.nextInt(RarePool))} for details."
      else body
    withRare.mkString(" ")
  }

  /** Document `i` of the stream named `ns`. Each doc draws from its own
    * fork of the seed, so doc `i` is the same whichever docs precede it. */
  def doc(seed: Long, ns: String, i: Int): Doc = {
    val r = new Rng(seed * 1000003L + ns.hashCode.toLong * 7919L + i)
    val t = topicZipf.sample(r)
    val second = (t + 1 + r.nextInt(Topics.size - 1)) % Topics.size
    val topic = Topics(t)
    val title = s"${topic.slug} ${topicWord(t, r)} ${topicWord(t, r)} note $i"
    val tags = (Seq(topic.slug) ++ (0 until r.nextInt(3)).map(_ => Tags(tagZipf.sample(r)))).distinct
    val sb = new StringBuilder
    sb ++= "---\n" ++= s"title: $title\n" ++= tags.mkString("tags: [", ", ", "]\n") ++= "---\n"
    sb ++= s"# $title\n\n" ++= paragraph(t, second, r, rare = r.nextDouble() < 0.08) ++= "\n"
    (0 until 3 + r.nextInt(4)).foreach { _ =>
      sb ++= s"\n## ${topicWord(t, r)} ${topicWord(t, r)}\n\n"
      sb ++= paragraph(t, second, r, rare = r.nextDouble() < 0.08) ++= "\n"
    }
    Doc(s"kb/$ns/${topic.slug}/note-$i.md", sb.result())
  }

  def docs(seed: Long, ns: String, from: Int, until: Int): Vector[Doc] =
    (from until until).map(doc(seed, ns, _)).toVector

  /** The kind of query `j`: a fixed cycle of five, so any five
    * consecutive queries hold three common, one rare and one absent. */
  val KindCycle: Vector[String] = Vector("common", "rare", "common", "absent", "common")

  /** `n` distinct queries: the ten sentences expanded by the seed, query
    * `j` of kind `KindCycle(j % 5)` (60% common, 20% rare-term lookups,
    * 20% naming an absent term). */
  def queries(seed: Long, n: Int): Vector[Query] = {
    val r = new Rng(seed * 31L + 0x51EEDL)
    val out = scala.collection.mutable.LinkedHashSet.empty[Query]
    while (out.size < n) {
      val t = out.size % Topics.size
      val q = KindCycle(out.size % KindCycle.size) match {
        case "rare" => Query(s"${rareTerm(r.nextInt(RarePool))} ${topicWord(t, r)}", "rare")
        case "absent" => Query(s"${absentTerm(r.nextInt(1000))} ${topicWord(t, r)}", "absent")
        case _ => Query(s"${Topics(t).sentence} ${topicWord(t, r)} ${topicWord(t, r)}", "common")
      }
      out += q // a repeat is dropped and position `out.size` drawn again
    }
    out.toVector
  }
}
