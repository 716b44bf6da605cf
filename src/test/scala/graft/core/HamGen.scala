package graft.core

import org.scalacheck.Gen

/** Generators for properties of the HAM rule: strings built from the
  * chars whose Go JSON bytes differ from their raw bytes, and values whose
  * equal-state ties the canonical JSON decides.
  */
object HamGen {

  /** One piece of a string: a control char 0x00-0x1F (Go escapes each),
    * an HTML or JSON-special char, plain ASCII, non-ASCII, a
    * supplementary char (a surrogate pair) or a lone surrogate.
    */
  val piece: Gen[String] = Gen.frequency(
    4 -> Gen.choose('\u0000', '\u001f').map(_.toString),
    3 -> Gen.oneOf("<", ">", "&", "\"", "\\", "A", "a", "z", "0", " "),
    2 -> Gen.oneOf("ü", "漢", "😀"),
    1 -> Gen.oneOf("\ud800", "\udfff"))

  val string: Gen[String] = Gen.choose(0, 3).flatMap(Gen.listOfN(_, piece)).map(_.mkString)

  /** Every value kind. A number and a string of the same digits have equal
    * canonical JSON (`"42"`), so a state tie between them is a full tie.
    */
  val value: Gen[GunValue] = Gen.frequency(
    1 -> Gen.const(GunValue.nullValue),
    6 -> string.map(GunValue.string),
    2 -> Gen.oneOf("42", "7", "-2.5").map(GunValue.number),
    1 -> Gen.oneOf("42", "7").map(GunValue.string),
    1 -> Gen.oneOf(true, false).map(GunValue.bool),
    1 -> string.map(GunValue.relation))

  /** `x` as printable ASCII: a test report's XML writer aborts the run on
    * a lone surrogate, and control chars make a failure unreadable.
    */
  def printable(x: Any): String = x.toString.flatMap(c =>
    if (c >= ' ' && c <= '~') c.toString else f"\\u${c.toInt}%04x")
}
