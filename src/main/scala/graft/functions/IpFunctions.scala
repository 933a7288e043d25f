package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.shim
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-level IPv4 parser shared by interpreted eval and generated code.
  * Scala object methods get static forwarders, so generated Java can call
  * `graft.functions.IpUtil.ipv4ToLong(...)` directly. */
object IpUtil {

  /** Dotted-quad -> unsigned 32-bit value as Long; -1 if not a valid IPv4
    * (reference analogue: net.ParseIP at core/aggregator.go:62 — invalid
    * addresses leave enrichment columns empty, i.e. NULL). Operates on raw
    * UTF8String bytes: no java.lang.String allocation in the hot path. */
  def ipv4ToLong(s: UTF8String): Long = {
    if (s == null) return -1L
    val n = s.numBytes()
    if (n < 7 || n > 15) return -1L
    var ip = 0L
    var octet = -1L
    var digits = 0
    var dots = 0
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b >= '0' && b <= '9') {
        // reject leading zeros ("01.2.3.4"), matching Go's net.ParseIP
        if (digits > 0 && octet == 0) return -1L
        octet = (if (octet < 0) 0 else octet) * 10 + (b - '0')
        digits += 1
        if (octet > 255) return -1L
      } else if (b == '.') {
        if (octet < 0) return -1L
        ip = (ip << 8) | octet
        octet = -1L
        digits = 0
        dots += 1
        if (dots > 3) return -1L
      } else {
        return -1L
      }
      i += 1
    }
    if (dots != 3 || octet < 0) return -1L
    (ip << 8) | octet
  }

  /** Long (0..2^32-1) -> dotted quad, for round-trips and report output. */
  def longToIpv4(v: Long): UTF8String =
    UTF8String.fromString(
      s"${(v >> 24) & 0xff}.${(v >> 16) & 0xff}.${(v >> 8) & 0xff}.${v & 0xff}")
}

/** Codegen'd Catalyst expression: IPv4 dotted-quad string -> numeric value
  * (SURVEY §2.7 F9). NULL on malformed input — the left-outer semantics the
  * reference gets from ignoring geoip lookup errors. Whole-stage-codegen
  * friendly: a single static call, no boxing, no regex. */
case class IpToNum(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"ip_to_num expects STRING, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "ip_to_num"

  override protected def nullSafeEval(input: Any): Any = {
    val r = IpUtil.ipv4ToLong(input.asInstanceOf[UTF8String])
    if (r < 0) null else java.lang.Long.valueOf(r)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |long ${ev.value}_r = graft.functions.IpUtil.ipv4ToLong($c);
         |if (${ev.value}_r < 0) { ${ev.isNull} = true; } else { ${ev.value} = ${ev.value}_r; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): IpToNum =
    copy(child = newChild)
}

/** Column-level entry points for graft's custom expressions. */
object GraftFunctions {

  def ip_to_num(c: Column): Column = shim.column(IpToNum(shim.expression(c)))
}
