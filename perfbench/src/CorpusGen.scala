package perfbench

/** Seeded synthetic text with planted structure, for the corpus
  * workload.
  *
  * Words are random lowercase letter strings from a fixed vocabulary, so
  * two independently drawn documents share no 5-word shingle. Each
  * document starts with four signature words derived from its id
  * (document frequency 1), which makes a query built from them rank that
  * document, or its near-duplicate, first. A
  * near-duplicate copies its source and replaces one word after the
  * signature, which keeps 5-shingle Jaccard near 0.84, above the 0.7
  * threshold.
  */
final class CorpusGen(seed: Long, vocab: Int = 6000) {
  private val rnd = new java.util.SplittableRandom(seed)

  private def letters(n: Long, width: Int): String = {
    val b = new Array[Char](width)
    var v = n
    var i = width - 1
    while (i >= 0) { b(i) = ('a' + (v % 26).toInt).toChar; v /= 26; i -= 1 }
    new String(b)
  }

  private val words: Vector[String] =
    Vector.tabulate(vocab)(i => "w" + letters(i.toLong * 7919L + seed.abs % 997, 4))

  private def word(): String = words(rnd.nextInt(vocab))

  /** Signature words of document `id`: unique to it and its copies. */
  private def signature(id: Long): Vector[String] =
    Vector.tabulate(4)(k => "q" + letters(id * 4 + k, 6))

  /** A document of `len` words opening with its signature. */
  def doc(id: Long, len: Int): String =
    (signature(id) ++ Vector.fill(len - 4)(word())).mkString(" ")

  /** `src` with one non-signature word replaced. */
  def nearDup(src: String): String = {
    val w = src.split(' ')
    val i = 4 + rnd.nextInt(w.length - 4)
    w(i) = "x" + word()
    w.mkString(" ")
  }

  def nextInt(n: Int): Int = rnd.nextInt(n)
  def length(): Int = 40 + rnd.nextInt(40)
}
