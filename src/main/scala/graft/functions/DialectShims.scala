package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, MapType}
import org.apache.spark.unsafe.types.UTF8String

/** DuckDB-dialect compatibility functions, so SQL written against DuckDB
  * (including this library's own oracle corpus) runs verbatim on Spark.
  *
  * Every shim COMPOSES existing Catalyst expressions — no UDFs, no new
  * eval code — so they codegen and optimize exactly like the builtins
  * they alias:
  *
  *  - `list_reduce(arr, λ)`  → aggregate over arr[2..] seeded with arr[1]
  *    (DuckDB's no-init left fold; identical association order)
  *  - `len(x)`               → size() for arrays/maps, length() otherwise
  *    (DuckDB's len spans both; Spark's builtin is string/binary-only)
  *  - `sha256(x)`            → sha2(x, 256)
  *  - `epoch_ns(ts)`         → unix_micros(ts) * 1000 (µs-precision
  *    timestamps make this exact)
  *  - `strftime(ts, '%…')`   → date_format with the %-codes translated
  *    to JDK pattern letters at plan time (format must be a literal)
  *  - `duck_encode(s)`       → cast to BINARY (UTF-8 bytes; DuckDB's
  *    1-arg encode() — named apart because Spark's 2-arg encode builtin
  *    would otherwise shadow-conflict)
  *  - `xor(a, b)`            → bitwise xor (Spark's `^` operator; DuckDB
  *    reserves `^` for exponentiation, so oracles write xor())
  *
  * `QueryRegistrySpec` exercises all of them by running the whole
  * DuckDB oracle corpus through Spark SQL.
  */
object DialectShims {

  private def fn(name: String, clazz: Class[_],
                 builder: Seq[Expression] => Expression) =
    (new FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name),
      builder)

  /** `%`-code → JDK `DateTimeFormatter` pattern translation for the codes
    * the corpus uses; unknown codes fail loudly rather than silently
    * emitting wrong formats.
    */
  private[graft] def strftimeToJdk(fmt: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        fmt.charAt(i + 1) match {
          case 'Y' => sb.append("yyyy")
          case 'm' => sb.append("MM")
          case 'd' => sb.append("dd")
          case 'H' => sb.append("HH")
          case 'M' => sb.append("mm")
          case 'S' => sb.append("ss")
          case 'j' => sb.append("DDD")
          case '%' => sb.append('%')
          case other => sys.error(s"strftime: unsupported %-code '%$other'")
        }
        i += 2
      } else if (c.isLetter) {
        // JDK patterns treat bare letters as pattern letters; quote each
        // RUN of consecutive letters as one section — per-letter quoting
        // would emit 'a''b', which the JDK parser reads as an escaped
        // quote ("a'b"), silently corrupting adjacent literal letters
        val start = i
        while (i < fmt.length && fmt.charAt(i).isLetter) i += 1
        sb.append('\'').append(fmt.substring(start, i)).append('\'')
      } else {
        sb.append(c)
        i += 1
      }
    }
    sb.toString
  }

  def register(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(fn("list_reduce", classOf[ArrayAggregate], children => {
      require(children.size == 2,
        s"list_reduce requires (array, lambda), got ${children.size} args")
      val Seq(arr, merge) = children
      ArrayAggregate(
        Slice(arr, Literal(2), Size(arr)),
        ElementAt(arr, Literal(1)),
        merge.asInstanceOf[LambdaFunction],
        LambdaFunction.identity)
    }))

    ext.injectFunction(fn("len", classOf[Size], children => {
      require(children.size == 1, s"len requires 1 argument, got ${children.size}")
      val child = children.head
      if (child.resolved && (child.dataType.isInstanceOf[ArrayType] ||
          child.dataType.isInstanceOf[MapType])) Size(child)
      else Length(child)
    }))

    ext.injectFunction(fn("strlen", classOf[OctetLength], children => {
      require(children.size == 1,
        s"strlen requires 1 argument, got ${children.size}")
      OctetLength(children.head)
    }))

    ext.injectFunction(fn("sha256", classOf[Sha2], children => {
      require(children.size == 1, s"sha256 requires 1 argument, got ${children.size}")
      Sha2(children.head, Literal(256))
    }))

    ext.injectFunction(fn("epoch_ns", classOf[UnixMicros], children => {
      require(children.size == 1, s"epoch_ns requires 1 argument, got ${children.size}")
      Multiply(UnixMicros(children.head), Literal(1000L))
    }))

    ext.injectFunction(fn("strftime", classOf[DateFormatClass], children => {
      require(children.size == 2,
        s"strftime requires (ts, format), got ${children.size} args")
      val Seq(ts, fmtExpr) = children
      require(fmtExpr.foldable, "strftime format must be a literal")
      val fmt = fmtExpr.eval().asInstanceOf[UTF8String].toString
      DateFormatClass(ts,
        Literal(UTF8String.fromString(strftimeToJdk(fmt)),
          org.apache.spark.sql.types.StringType))
    }))

    ext.injectFunction(fn("duck_encode", classOf[Cast], children => {
      require(children.size == 1,
        s"duck_encode requires 1 argument, got ${children.size}")
      Cast(children.head, BinaryType)
    }))

    // DuckDB's scalar bitwise xor(a, b); Spark only spells it as the ^
    // operator (its `^` is exponent in DuckDB, so oracles write xor())
    ext.injectFunction(fn("xor", classOf[BitwiseXor], children => {
      require(children.size == 2,
        s"xor requires 2 arguments, got ${children.size}")
      BitwiseXor(children(0), children(1))
    }))
  }
}
