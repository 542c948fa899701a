package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native MinHash signature: for an array of shingle strings, all K
  * permutation minima in ONE pass — `mh_k = min over s of
  * (a_k * H(s) + b_k) mod P`, H(s) = first 8 hex digits of md5(s) (i.e.
  * the first 4 digest bytes, big-endian unsigned).
  *
  * Bit-identical to the composable form it replaces —
  * `array_min(transform(transform(shingles, md5→conv), affine))` — which
  * runs INTERPRETED (higher-order lambdas have no codegen) and re-walks
  * the array K+1 times; this hashes each shingle once and updates K
  * running minima. The DuckDB oracle (min over unnest + md5 prefix) is
  * unchanged.
  *
  * Returns array<bigint> of length [[K]]; null for a null or empty input
  * (an empty shingle set has no minima — callers filter those docs, both
  * here and in the oracle). Null ELEMENTS are skipped, exactly as
  * `array_min` ignores nulls in the composable form (ADVICE r2: a null
  * element must not NPE a SQL-registered function); an all-null array is
  * treated as empty.
  */
case class MinHashSig(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"minhash_sig requires array<string>, got $t")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[ArrayData])

  // Interpreted eval via a static helper keeps the codegen path simple and
  // the hot loop in compiled JVM code either way.
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val out = ctx.freshName("sig")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $out =
         |  graft.functions.MinHashSig.compute($a);
         |if ($out == null) { ${ev.isNull} = true; } else {
         |  ${ev.value} = $out;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): MinHashSig = copy(child = newChild)
}

object MinHashSig {
  /** THE canonical MinHash constants — DedupOps and the oracle-SQL
    * generator in SparkEntry read these (compiler-enforced lockstep). */
  val K = 12
  val P: Long = 2147483647L
  def aCoef(k: Int): Long = 2L * k + 1
  def bCoef(k: Int): Long = 1000003L * k
  private val A: Array[Long] = Array.tabulate(K)(aCoef)
  private val B: Array[Long] = Array.tabulate(K)(bCoef)

  private val digest: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** Static entry used by the generated code AND interpreted eval — one
    * implementation, no drift. Null elements are skipped (array_min
    * semantics); returns null when no non-null element exists. */
  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val mins = Array.fill(K)(Long.MaxValue)
    val md = digest.get()
    var seen = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        seen = true
        md.reset()
        val d = md.digest(arr.getUTF8String(i).getBytes)
        val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        var k = 0
        while (k < K) {
          val v = (A(k) * h + B(k)) % P
          if (v < mins(k)) mins(k) = v
          k += 1
        }
      }
      i += 1
    }
    if (!seen) null else new GenericArrayData(mins)
  }
}
