package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed UDAF (§2.9 declared surface): weighted mean with an exact
  * decimal accumulator. The buffer keeps Σw·x as BigDecimal so partial
  * aggregation is order-independent (same rationale as Q.dsum) — the
  * result is bit-identical across partitionings and matches a
  * decimal-summing SQL oracle. Values are rounded to 2dp on entry
  * (the test data's native scale).
  *
  * Null semantics follow the SQL aggregate convention (boxed input,
  * not primitive — a primitive encoder would silently turn NULL
  * values into 0.0 and skew the mean): a NULL value row contributes
  * neither its value NOR its weight, and a group with no non-null
  * values yields NULL, exactly like avg().
  */
object WeightedMean
    extends Aggregator[(java.lang.Double, Long), (JBigDecimal, Long), java.lang.Double] {

  override def zero: (JBigDecimal, Long) = (JBigDecimal.ZERO.setScale(2), 0L)

  override def reduce(b: (JBigDecimal, Long), in: (java.lang.Double, Long)): (JBigDecimal, Long) =
    if (in._1 == null) b
    else {
      val x = new JBigDecimal(in._1.doubleValue).setScale(2, RoundingMode.HALF_UP)
      (b._1.add(x.multiply(JBigDecimal.valueOf(in._2))), b._2 + in._2)
    }

  override def merge(a: (JBigDecimal, Long), b: (JBigDecimal, Long)): (JBigDecimal, Long) =
    (a._1.add(b._1), a._2 + b._2)

  override def finish(r: (JBigDecimal, Long)): java.lang.Double =
    if (r._2 == 0L) null else Double.box(r._1.doubleValue() / r._2.toDouble)

  override def bufferEncoder: Encoder[(JBigDecimal, Long)] =
    Encoders.tuple(Encoders.DECIMAL, Encoders.scalaLong)

  override def outputEncoder: Encoder[java.lang.Double] = Encoders.DOUBLE
}
