package graft.bench

/** The benchmark's workloads. The workloads partition
  * `SparkEntry.queries` by name prefix. A full warm pass over a workload
  * takes longer than one run may (perfbench/expected/sf0.01.times.tsv:
  * 55 s for cell_storage, 39 s for llm_curation on 4 cores), so every
  * timed pass runs a fixed core of its members, and every run also sweeps
  * a seed-chosen slice of all members through the output check.
  *
  * Each core is a rank-stratified sample of the recorded warm times: sort
  * the members by warm time (then name), and take the member at rank
  * floor((i + 1/2) * n / k) for i < k. Every core member stands for n / k
  * members of similar latency, so the core's latency distribution follows
  * the workload's and n / k times a core pass estimates a full pass.
  * `python3 perfbench/run.py --profile` re-times the members and prints
  * the cores this rule picks; perfbench/tests/test_cores.py checks that
  * the lists below are those picks.
  */
object Workloads {

  /** `topk`: the members whose plans run graft's `TopKPerGroup` operator,
    * run once by the traced run's operator probe. */
  final case class Battery(name: String, prefixes: Set[Char], core: Seq[String],
                           topk: Seq[String])

  val batteries: Seq[Battery] = Seq(
    Battery("cell_storage", "abcdefghik".toSet, Seq(
      "h2_fn_regex", "e4_win_pctrank", "d7_agg_cube", "d10_agg_stddev",
      "a24_region_placement", "a2_csv_roundtrip", "b17_compaction", "a13_hfile_merge_read"),
      Seq("e9_win_topk_group")),
    Battery("llm_curation", Set('j'), Seq(
      "j40_minhash_portable", "j33_winnow_fingerprint", "j27_bpe_roundtrip", "j21_pack_shards",
      "j60_langid"),
      Seq("j8_sim_topk", "j35_bm25_topk", "j42_rrf_fusion")))

  val names: Seq[String] = batteries.map(_.name)

  /** Consecutive seeds sweep consecutive slices, so any `SweepSlices`
    * consecutive seeds check every member of a workload once. */
  val SweepSlices = 10

  /** Partition guard: every declared query belongs to exactly one battery
    * workload and every core query is a member of its own workload.
    * Returns the members of each workload or the offending names.
    */
  def partition(declared: Set[String]): Either[Seq[String], Map[String, Seq[String]]] = {
    val owners = declared.toSeq.sorted.map { q =>
      q -> batteries.filter(b => q.headOption.exists(b.prefixes.contains)).map(_.name)
    }
    val problems =
      owners.collect { case (q, Seq()) => s"query $q belongs to no workload" } ++
        owners.collect { case (q, ws) if ws.size > 1 =>
          s"query $q is listed by ${ws.mkString(", ")}" } ++
        batteries.flatMap { b =>
          (b.core ++ b.topk).filterNot(q => declared.contains(q) && b.prefixes.contains(q.head))
            .map(q => s"core or probe query $q of ${b.name} is not one of its members")
        }
    if (problems.nonEmpty) Left(problems)
    else Right(batteries.map(b =>
      b.name -> owners.collect { case (q, Seq(w)) if w == b.name => q }).toMap)
  }

  /** The members the run with `seed` sweeps through the output check. */
  def sweep(members: Seq[String], seed: Long): Seq[String] = {
    val slice = java.lang.Math.floorMod(seed, SweepSlices.toLong)
    members.sorted.zipWithIndex.collect { case (q, i) if i % SweepSlices == slice => q }
  }
}
