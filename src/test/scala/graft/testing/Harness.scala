package graft.testing

/** Test harness — gasket's `compare_inbound_sequence` /
  * `quick_output_test!` (gasket `src/testing.rs`): sequence-exact
  * assertions where ordering is defined, multiset assertions for fan-in
  * edges (mpsc interleaving is nondeterministic across producers,
  * gasket `messaging.rs` — FIXTURES.md §1 caveat). */
object Harness {

  /** Exact ordered comparison (use only on ordered outputs). */
  def assertSequence[T](actual: Seq[T], expected: Seq[T]): Unit =
    require(actual == expected,
      s"sequence mismatch:\n  actual:   $actual\n  expected: $expected")

  /** Order-free multiset comparison — correct for funnel/union outputs. */
  def assertMultiset[T](actual: Seq[T], expected: Seq[T]): Unit = {
    val a = actual.groupBy(identity).view.mapValues(_.size).toMap
    val e = expected.groupBy(identity).view.mapValues(_.size).toMap
    require(a == e, s"multiset mismatch:\n  actual:   $a\n  expected: $e")
  }
}
