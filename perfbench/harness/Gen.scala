package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/** What the generator knows to be true about the `etl_skip` input. */
final case class EtlTruth(rows: Long, sourceBytes: Long, users: Set[String],
                          errors: Map[String, String])

/**
 * Seeded input of `etl_skip`: `rows` all-string CSV records
 * (id,user,amount,email,kind) split over `files` files. About 1 % of
 * amounts are malformed (the playbook's `mustToFloat` rejects them),
 * about 1 % of emails fail its `validateRegex`, a fifth of the rows are
 * purchases (dropped by its filter), and users repeat about five times
 * (its `max` dedup keeps one row per user). The generator computes the
 * expected outcome in the same pass.
 */
object EtlGen {
  val AmountError = "mustToFloat: cannot convert value to float for field 'amount'"
  val EmailError = "validateRegex: field 'email' does not match pattern"
  private val BadAmounts = Array("12.3.4", "n/a", "x99", "--5")
  private val Kinds = Array("view", "click", "refund")

  def write(dir: File, seed: Long, rows: Int, files: Int): EtlTruth = {
    dir.mkdirs()
    val rng = new java.util.Random(seed)
    val keys = math.max(1, rows / 5)
    val users = mutable.HashSet.empty[String]
    val errors = mutable.HashMap.empty[String, String]
    var bytes = 0L
    val perFile = (rows + files - 1) / files
    var id = 0
    (0 until files).foreach { f =>
      val file = new File(dir, f"part-$f%02d.csv")
      val out = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(file), UTF_8), 1 << 16)
      try {
        out.write("id,user,amount,email,kind\n")
        var i = 0
        while (i < perFile && id < rows) {
          id += 1
          val user = "u%07d".format(rng.nextInt(keys))
          val badAmount = rng.nextInt(100) == 0
          val amount =
            if (badAmount) BadAmounts(rng.nextInt(BadAmounts.length))
            else java.lang.String.format(java.util.Locale.ROOT, "%.2f",
              java.lang.Double.valueOf(rng.nextInt(1000000) / 100.0))
          val badEmail = rng.nextInt(100) == 0
          val email = if (badEmail) s"user$id.example.com" else s"user$id@example.com"
          val kind = if (rng.nextInt(5) == 0) "purchase" else Kinds(rng.nextInt(Kinds.length))
          out.write(s"$id,$user,$amount,$email,$kind\n")
          if (kind != "purchase") {
            if (badAmount) errors(id.toString) = AmountError
            else if (badEmail) errors(id.toString) = EmailError
            else users += user
          }
          i += 1
        }
      } finally out.close()
      bytes += file.length()
    }
    EtlTruth(rows, bytes, users.toSet, errors.toMap)
  }
}

/** One document of the generated corpus. */
final case class Doc(text: String, lang: String, source: String)

/** What the generator knows to be true about the `corpus_curate` input. */
final case class CorpusTruth(docs: Int, exactDups: Int, sourceBytes: Long)

/**
 * Seeded input of `corpus_curate`, resampled from a pool of real
 * documents: 70 % base documents (a pool document's words in a seeded
 * order, all distinct), 25 % near duplicates (a base document with
 * about a tenth of its words replaced) and 5 % exact copies of a base
 * document, shuffled together and numbered in that order.
 */
object CorpusGen {
  def docs(pool: IndexedSeq[Doc], seed: Long, n: Int): (IndexedSeq[Doc], CorpusTruth) = {
    val rng = new scala.util.Random(seed)
    val vocab = pool.flatMap(_.text.split(' ')).distinct.sorted.toIndexedSeq
    val nExact = n / 20
    val nNear = n / 4
    val nBase = n - nExact - nNear
    val seen = mutable.HashSet.empty[String]
    val base = mutable.ArrayBuffer.empty[Doc]
    while (base.size < nBase) {
      val p = pool(rng.nextInt(pool.size))
      val text = rng.shuffle(p.text.split(' ').toSeq).mkString(" ")
      if (seen.add(text)) base += p.copy(text = text)
    }
    val near = mutable.ArrayBuffer.empty[Doc]
    while (near.size < nNear) {
      val b = base(rng.nextInt(base.size))
      val words = b.text.split(' ')
      (0 until math.max(1, words.length / 10)).foreach { _ =>
        val i = rng.nextInt(words.length)
        var w = vocab(rng.nextInt(vocab.size))
        while (w == words(i)) w = vocab(rng.nextInt(vocab.size))
        words(i) = w
      }
      val text = words.mkString(" ")
      if (seen.add(text)) near += b.copy(text = text)
    }
    val exact = IndexedSeq.fill(nExact)(base(rng.nextInt(base.size)))
    val all = rng.shuffle((base ++ near ++ exact).toIndexedSeq)
    (all, CorpusTruth(n, nExact, 0L))
  }
}
