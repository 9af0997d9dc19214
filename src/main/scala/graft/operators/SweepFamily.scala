package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One retrieval family's sweep → pick contract, declared once. A sweep
  * commits a frontier (one row per config: stage costs, knobs, recall);
  * the CHOICE it exists to make is the cheapest config whose recall
  * clears the floor — one row, or none when nothing qualifies (re-sweep
  * deeper/wider, never settle for the best loser).
  *
  *  - `recall`: the frontier column the floor applies to;
  *  - `cost`: the picker's order — stage costs first (the scan-side
  *    work that dominates at corpus scale), then the knobs, so ties
  *    break deterministically;
  *  - `stamps`: the identity columns the sweep command writes: the
  *    artifacts (or shingle k) its recall was measured under;
  *  - `command`: the EtlCli command that (re)builds the artifact. */
final case class SweepFamily(recall: String, cost: Seq[String],
                             stamps: Seq[String], command: String) {

  def pick(sweep: DataFrame, floor: Double): DataFrame =
    sweep.filter(col(recall) >= floor).orderBy(cost.map(col): _*).limit(1)
}

object SweepFamily {

  /** MinHash-LSH band configs (Dedup.lshBandSweep): fewest candidate
    * verifications. The frontier is measured at one shingle k; bands
    * signed at another k are a config nobody measured. */
  val lsh = SweepFamily("recall", Seq("n_candidates", "band_size"),
    Seq("shingle_k"), "sweep-lsh")

  /** IVF and residual IVF-PQ probe depths (Similarity.ivfProbeSweep,
    * ivfPqResidualSweep): fewest scored candidates. Residual-ADC recall
    * depends on the (centroids, codebook) pair, so the PQ sweep stamps
    * both. */
  val ivf = SweepFamily("recall_micro", Seq("n_scored", "n_probe"),
    Seq("quantizer_id", "codebook_id"), "sweep-ivfpq")

  /** Binary Hamming shortlist depths (Similarity.binaryShortlistSweep):
    * fewest reranked candidates. Sign codes train nothing, so nothing is
    * stamped. */
  val binary = SweepFamily("recall_micro", Seq("n_scored", "shortlist"),
    Nil, "sweep-binary")

  /** The cell-pruned binary (nProbe, shortlist) grid
    * (Similarity.binaryIvfSweep): stage-1 Hamming evaluations first,
    * then stage-2 reranks. Recall was measured under one quantizer. */
  val binaryIvf = SweepFamily("recall_micro",
    Seq("n_cand", "n_scored", "n_probe", "shortlist"),
    Seq("quantizer_id"), "sweep-binary-ivf")

  /** The binary-IVF grid measured on the FUSED ranking
    * (Similarity.fusedRrfSweep): a per-arm floor does not survive rank
    * fusion, so the floor applies to `fused_recall`; same cost axes as
    * binaryIvf. */
  val fusedRrf = SweepFamily("fused_recall",
    Seq("n_cand", "n_scored", "n_probe", "shortlist"),
    Seq("quantizer_id"), "sweep-fused-rrf")
}
