package graft.util

/** Code-point order — identical to Spark's UTF8String binary (UTF-8 byte) order, so
  * a driver-side sort or minimum agrees with the same operation in a Spark plan.
  * Java's String.compareTo is UTF-16 order, which ranks supplementary characters
  * BELOW U+E000..U+FFFF.
  */
object Utf8Order extends Ordering[String] {
  def compare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }
}
