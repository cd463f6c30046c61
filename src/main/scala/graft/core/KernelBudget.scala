package graft.core

/** Deterministic op-count and variable budgets — the TIME and MEMORY halves
  * of the reference's per-extraction resource envelope (gbdc
  * src/util/ResourceLimits.h:94-197; Main.cc:30-33,177-191 turns a blown limit into
  * a structured `timeout`/`memout` outcome instead of a crash).
  *
  * A wall-clock kill is nondeterministic: the same document could time out
  * on one executor and succeed on a retry, which breaks the resume
  * checksums (Manifest) and makes results host-dependent. Instead the
  * budget counts the kernel's own unit of work — clause-literal visits —
  * which is a pure function of the document, so the `timeout` outcome is
  * bit-stable across reruns, hosts, and parallelism levels while bounding
  * the same resource (CPU time is proportional to charged ops in these
  * kernels).
  *
  * Linear kernels (hash/base-feature extraction) know their op count after
  * the parse (total literal slots), so they check once up front; the
  * super-linear gate kernel ([[Gates.analyze]] — blocked-set checks are
  * quadratic in occurrence-list sizes) charges online at each hot site.
  * The SAT solver keeps its own conflict-work budget ([[Sat.Ipasir]]);
  * both surface through the same `status = "timeout"` channel.
  *
  * The memory half is [[checkVars]]: bytes alone do not bound a kernel's
  * memory, since its arrays are indexed by variable id and the 13-byte doc
  * `2147483647 0` names a 2^31-entry range. Every kernel that sizes such an
  * array checks the doc's largest id once, after the parse; a doc past the
  * budget raises [[KernelMemout]], which surfaces as a null row or
  * `status = "limit"`.
  */
object KernelBudget {
  /** Stackless (thrown once per pathological document, caught one frame up
    * in the expression layer — a filled stack trace would dominate the
    * cost of the structured outcome).
    */
  final class KernelTimeout
      extends RuntimeException("kernel op budget exceeded", null, false, false)

  final val Unlimited: Long = Long.MaxValue

  /** Stackless, like [[KernelTimeout]]: a doc past the variable budget. */
  final class KernelMemout
      extends RuntimeException("kernel variable budget exceeded", null, false, false)

  /** Default per-document byte budget (the reference's per-call
    * ResourceLimits contract, gbdc src/util/ResourceLimits.h),
    * which the variable budget shares: a deterministic cap, identical on
    * every rerun, as the resume checksums require.
    */
  val DefaultMaxBytes: Int = 64 << 20

  /** Bytes a variable-indexed array may always take, however small the
    * byte budget: small budgets cap short docs whose ids are still sparse
    * (650 variables in a 50-byte doc is ordinary DIMACS).
    */
  val MinVarArrayBytes: Long = 1L << 20

  /** True when a doc whose largest variable id is `maxVar` would size its
    * variable-indexed arrays (8-byte entries, ids 0..maxVar) past the byte
    * budget, or past [[MinVarArrayBytes]] when that is larger.
    */
  def overVars(maxVar: Int, maxBytes: Int): Boolean =
    (maxVar + 1L) * 8 > math.max(maxBytes.toLong, MinVarArrayBytes)

  /** Raises [[KernelMemout]] when [[overVars]]. */
  def checkVars(maxVar: Int, maxBytes: Int = DefaultMaxBytes): Unit =
    if (overVars(maxVar, maxBytes)) throw new KernelMemout
}

/** One instance per document evaluation (allocation is noise next to the
  * kernel work); NOT thread-safe — never share across rows.
  */
final class KernelBudget(limit: Long) {
  private var used: Long = 0L

  @inline def charge(n: Long): Unit = {
    used += n
    if (used > limit) throw new KernelBudget.KernelTimeout
  }

  /** Ops charged so far (diagnostics / the super-linearity property test). */
  def opsUsed: Long = used
}
