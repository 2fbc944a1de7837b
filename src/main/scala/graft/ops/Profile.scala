package graft.ops

/** The `-Dgraft.profile=cluster` umbrella (round-14 verdict item 6).
  *
  * The engine's cluster-vs-local crossovers ship as individual dials —
  * each one documented and A/B-measured where it lives — but a deployment
  * should not need to know them one by one. Setting
  * `-Dgraft.profile=cluster` flips the documented CLUSTER spelling of
  * each crossover as a set; an explicit per-dial property always wins
  * over the profile (the A/B seams stay usable under either profile).
  *
  * These are ALL the `-Dgraft.*` properties the engine reads (ProfileSpec
  * pins the set); every other algorithm setting is a constant next to
  * the code that uses it. Profile → dial map (see each dial's scaladoc
  * for the measurement):
  *
  * | dial | local default | cluster profile | why it flips |
  * |---|---|---|---|
  * | `graft.profile` | `local` | `cluster` | this umbrella |
  * | `graft.q18.bloom` | off | ON | the Bloom semi-join removes the orders-side exchange entirely; on one box the extra jobs cost more than the exchange (−5% at 256× local), on a network-bound cluster the exchange is the dominant cost (`Relational.q18BloomDial`) |
  * | `graft.q61.mask` | off | ON | the mod-64 bitmask aggregate replaces the `collect_set` object aggregate with a flat codegen'd buffer — marginal 1.2× of DuckDB vs plain's 3.0× at 256×; local ≤64× the plain spelling's fewer jobs win (`Temporal.q61MaskDial`) |
  * | `graft.d02.verify` | `sets` | `sets` (unchanged) | the verify exchange's two spellings, `sets` and `bcast`; deliberately NOT flipped: `bcast` is the single-box winner at 256× but requires the corpus-linear shingle dictionary to fit executor memory — at true 100 TB `sets` spreads the exchange over cluster disk, so `sets` IS the cluster spelling (`DedupOps.d02VerifySpelling`) |
  * | `graft.export.shards`, `graft.pack.blockDocs` | 8 / 4096 | unchanged | sizing dials, not spelling crossovers — a deployment tunes them to its executor count and shard-size target |
  * | `graft.bpe.rounds` | 12 | unchanged | tokenizer merge rounds; `tools/verify_local.py` handles deep runs (`=256`) |
  * | `graft.bench.calibRef`, `graft.repo.root` | unset | unchanged | `graft.Bench` tooling: calibration reference and artifact root |
  *
  * A `def` (not a load-time val) so ProfileSpec can pin both profiles in
  * one JVM; the dials that consume it are `def`s for the same reason. */
object Profile {
  private[graft] def isCluster: Boolean =
    sys.props.get("graft.profile") match {
      case Some("cluster") => true
      case None | Some("local") => false
      case Some(other) => throw new IllegalArgumentException(
        s"graft.profile: unknown profile '$other' (cluster|local)")
    }

  /** Boolean dial resolution: explicit property wins; otherwise the
    * cluster profile's documented spelling; otherwise the local default
    * (false — every boolean crossover dial ships local-default-off). */
  private[graft] def dial(prop: String, onUnderCluster: Boolean): Boolean =
    sys.props.get(prop).map(_.toBoolean)
      .getOrElse(onUnderCluster && isCluster)
}
