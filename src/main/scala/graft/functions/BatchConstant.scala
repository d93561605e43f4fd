package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** A non-null `long` constant whose value stays out of generated source.
  *
  * `lit(v)` for a primitive is inlined into the Java that whole-stage
  * codegen compiles (`write(9, 20L)`), so a value that changes every
  * micro-batch — a batch id, a batch clock stamp — makes every batch's
  * plan a new class: compiled again on the driver and on the executors,
  * and filling the JVM's generated-code cache with classes never used
  * twice. A zero-argument function reaches the generated class through
  * its `references` array instead, the way Spark passes non-primitive
  * literals, so every batch of a lane shares one compiled class. A UDF is
  * never constant-folded back into a `Literal`.
  */
object BatchConstant {
  /** `value` as a column of type `long`, not null, that every batch's
    * plan compiles to the same class. */
  def column(value: Long): Column = udf(() => value).asNonNullable()()
}
