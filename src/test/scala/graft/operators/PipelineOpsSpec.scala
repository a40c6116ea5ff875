package graft.operators

/** The operators facade on arbitrary (non-testdata) DataFrames with
  * caller-chosen column names: planted duplicates must surface, distinct
  * content must not, and the ANN ops must rank planted neighbors first.
  */
class PipelineOpsSpec extends OpsSpecBase with DedupOpsTests
    with TextOpsTests with AnnOpsTests with graft.index.DurableIndexTests
