"""End-to-end KG-construction pipeline driver.

pages -> [extract + link: one projection of the pages scan -- Catalyst
          regexp, broadcast join against a LocalTableScan gazetteer]
      -> quads
      -> [canonize: sortWithinPartitions(url).mapInArrow(RDFC-1.0)]
      -> canonical
      -> [materialize: checkpointed write of canonical_nquads]

Control crosses the JVM<->Python boundary exactly once (the canonize
Arrow kernel; asserted on the executed plan in
tests/test_plans_and_streaming.py); everything else is
whole-stage-codegen relational.  Edges/nodes/lineage/metrics are built
on request with the ``materialize`` functions, not per deploy.  The
streaming ingest (``streaming/ingest.py``) runs this same function on
each micro-batch and commits through the same ``write_batch``.
"""

from __future__ import annotations

from .canon_stage import canonize_documents
from .link import build_quads, gazetteer_df
from .materialize import resume_filter, write_batch


def run_pipeline(
    spark,
    pages_df,
    max_work_factor=3,
    out_dir=None,
    batch_id=0,
):
    """Run the full pipeline; returns ``{"quads", "canonical"}``, the
    lazy quad-table and canonical-output DataFrames.

    With ``out_dir`` set, performs the checkpointed write (resuming past
    the urls of the committed batches) and adds ``results["written"]``,
    the ``{"docs", "quads", "errors"}`` counts observed during that
    write.  ``build_quads`` output is url-colocated, so
    canonicalization is the zero-shuffle 'colocated' path.
    """
    gaz = gazetteer_df(spark)
    if out_dir:
        pages_df = resume_filter(spark, pages_df, out_dir)
    quads = build_quads(pages_df, gaz)
    canonical = canonize_documents(quads, max_work_factor=max_work_factor)
    results = {"quads": quads, "canonical": canonical}
    if out_dir:
        # Emptiness (fully-resumed batch / all-null-text pages) is
        # decided INSIDE write_batch from counts observed during the
        # write -- the pipeline evaluates exactly once, in one job.
        results["written"] = write_batch(canonical, out_dir, batch_id)
    return results
