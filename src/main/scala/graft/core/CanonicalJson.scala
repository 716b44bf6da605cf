package graft.core

/** Canonical JSON serialization of a [[GunValue]], byte-compatible with Go's
  * `encoding/json.Marshal` of the reference's `Value` types, because HAM
  * same-state conflicts are broken by a lexical comparison of exactly those
  * bytes (reference: gun/state.go:68-78).
  *
  * Go-compatibility notes:
  *   - `json.Marshal` HTML-escapes `<`, `>`, `&` as `<`, `>`,
  *     `&` by default — mirrored here.
  *   - Control chars: `\n`, `\r`, `\t` get short escapes; other chars < 0x20
  *     become `\u00xx`. Valid UTF-8 passes through unescaped.
  *   - Numbers: `ValueNumber` is a named STRING type in the reference
  *     (gun/node.go:130-133) with no custom marshaler, so Go's
  *     `json.Marshal` emits it as a QUOTED JSON string (`"42.5"`, not
  *     `42.5`) — unlike `json.Number`, which marshals raw. The tiebreak
  *     therefore compares numbers with quotes; we match that byte-for-byte.
  *     (Wire encoding is a separate concern: protocol-correct JSON keeps
  *     numbers raw — see WireCodec.valueJson.)
  *   - A relation marshals as `{"#":"<soul>"}` (gun/node.go:156-159).
  */
object CanonicalJson {

  def encode(v: GunValue): String = v.kind match {
    case ValueKind.Null => "null"
    case ValueKind.Str  => quote(v.str.getOrElse(""))
    case ValueKind.Num  => quote(v.num.getOrElse("0")) // Go marshals the named string type quoted
    case ValueKind.Bool => if (v.bool.contains(true)) "true" else "false"
    case ValueKind.Rel  => "{\"#\":" + quote(v.rel.getOrElse("")) + "}"
    case other          => throw new IllegalArgumentException(s"unknown kind: $other")
  }

  /** Go-style JSON string quoting (HTML-escaping on, as json.Marshal). */
  def quote(s: String): String = {
    val sb = new StringBuilder(s.length + 2)
    sb.append('"')
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case '<'  => sb.append("\\u003c")
        case '>'  => sb.append("\\u003e")
        case '&'  => sb.append("\\u0026")
        case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
        case c    => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
    sb.toString
  }
}
