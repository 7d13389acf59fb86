package graft

import org.apache.spark.unsafe.types.UTF8String

/** Spark's string order, for driver code that must sort exactly as an
  * `ORDER BY` over a string column does: UTF8_BINARY, unsigned UTF-8
  * bytes. `String.compareTo` compares UTF-16 code units instead; the two
  * differ when a character above U+FFFF meets one in U+E000–U+FFFF. */
object SparkOrder {
  val strings: Ordering[String] = (a, b) =>
    UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))
}
