package graftbench

/** The benchmark's workloads: a fixed list of `SparkEntry.queries` names
  * each, run against one of the two generated inputs. One pass runs every
  * query of the list once, in a seed-permuted order.
  *
  * The lists are subsets of the engine's 111 queries, chosen so that each
  * workload stresses a different layer (see README.md) while a warm pass
  * stays a few seconds on a 4-core box.
  */
object Workloads {

  /** Input of a workload: `base` holds every table at scale factor 0.01;
    * `corpus` holds them at scale factor 0.1, with documents, embeddings
    * and events then replicated 10x by `tools/make_scale_fixture.py`
    * (every document gains 9 exact copies). See `gen_data.py`. */
  final case class Workload(name: String, input: String, queries: Seq[String])

  val all: Seq[Workload] = Seq(
    // assignments 2, 3 and 6: one-pass scan -> tokenize -> shuffle-aggregate
    Workload("corpus-index", "corpus", Seq(
      "q_wordcount", "q_cooc_pairs", "q_pmi", "q_postings_roundtrip",
      "q_hourly_counts")),
    // manifest commits and streaming beside file-pruned reads and joins
    Workload("table-writes", "base", Seq(
      "q_manifest_upsert", "q_manifest_skip", "q_manifest_stream", "q1_pricing",
      "q_asof_join")),
  )

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}
