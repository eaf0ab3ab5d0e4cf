"""Round-9 continuation: the lake DML suite as a takedown workflow.

The compliance scenario every training-data lake eventually faces: a
source turns out to be unlicensed and a takedown list of specific
documents arrives.  Composes the new DML surface end to end:

* ``delete_where`` (copy-on-write) removes the banned SOURCE — file
  stats prune untouched files, only files holding matches rewrite;
* ``delete_where(mode="mor")`` removes the takedown doc_ids as
  DELETION VECTORS — zero data files rewritten (asserted), readers
  anti-join the dead positions, the manifest audits exact counts;
* ``update_where`` redacts a column in place — SET expressions read
  the OLD row, untouched rows carry byte-identical;
* row-level CDF shows an auditor exactly which rows each commit
  removed/changed — including rows deleted only via deletion vectors;
* ``compact`` + ``vacuum`` then MATERIALIZE the deletions: after
  maintenance the dead rows' bytes are physically gone (the "actually
  deleted", not "merely hidden" compliance step — asserted by reading
  the raw parquet files behind the manifest);
* ``epoch_shuffle`` + ``grouping_sets_agg`` hand the surviving corpus
  back to training: a deterministic per-epoch order and the
  per-source/per-lang marginals in one shuffle.

No reference analog (the reference engine has no storage layer); cites
the brief's training-pipeline mandate rather than reference files.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from common import get_example_spark, show

SF_DIR = "/root/testdata/sf0.001"


def _main(spark, tmp: str):
    from async_stream_processing_spark.llm.sampling import epoch_shuffle
    from async_stream_processing_spark.operators.analytics import (
        grouping_sets_agg,
    )
    from async_stream_processing_spark.plans.versioned import (
        _read_manifest,
        commit_append,
        compact,
        delete_where,
        read_version,
        table_changes,
        update_where,
        vacuum,
        versions,
    )
    from async_stream_processing_spark.sources.parquet import load_table

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    lake = tempfile.mkdtemp(prefix="asp_dml_lake_", dir=tmp)
    commit_append(
        docs.repartitionByRange(8, "doc_id"), lake,
        stats_cols=["doc_id", "n_chars"],
    )
    n0 = read_version(spark, lake).count()

    # --- 1. CoW delete: the banned source ------------------------------
    v_cow = delete_where(spark, lake, "source = 'src3'")
    m = _read_manifest(lake, v_cow)
    show(spark.createDataFrame(
        [(m["rows_matched"], m["touched_files"], m["carried_files"])],
        "rows_deleted long, files_rewritten long, files_carried long",
    ), label="CoW delete audit")

    # --- 2. MOR delete: the takedown list, metadata-only ---------------
    takedown = "doc_id IN (7, 42, 105, 212, 399)"
    v_mor = delete_where(spark, lake, takedown, mode="mor")
    m = _read_manifest(lake, v_mor)
    assert m["files"] == _read_manifest(lake, v_cow)["files"], \
        "MOR delete must not rewrite any data file"
    assert m["rows_matched"] == 5 and m.get("dvs")
    print(f"MOR delete: {m['rows_matched']} rows dead via "
          f"{m['dv_files']} deletion-vector file(s); data files untouched")

    # --- 3. UPDATE: redact the text of one language bucket -------------
    update_where(
        spark, lake, "lang = 'de'",
        {"text": "'[REDACTED]'", "n_chars": "10"},
    )
    head = read_version(spark, lake)
    assert head.filter("lang = 'de' AND text != '[REDACTED]'").count() == 0

    # --- 4. CDF audit: what exactly did the takedown remove? -----------
    ch = table_changes(spark, lake, v_cow, v_mor, row_level=True)
    show(ch.select("doc_id", "source", "_change_type").orderBy("doc_id"),
         label="CDF of the MOR takedown (exact rows, delete-only)")
    assert ch.count() == 5

    # --- 5. materialize: compact + vacuum make the bytes go away -------
    compact(spark, lake, target_files=2)
    vacuum(lake, keep_last=1)
    mc = _read_manifest(lake, versions(lake)[-1])
    assert not mc.get("dvs"), "compaction materializes deletion vectors"
    raw = spark.read.parquet(
        *[os.path.join(lake, f) for f in mc["files"]]
    )
    assert raw.filter(takedown).count() == 0, \
        "after maintenance the deleted rows' bytes must be GONE"
    assert raw.filter("source = 'src3'").count() == 0
    survivors = read_version(spark, lake)
    print(f"corpus: {n0} -> {survivors.count()} rows after takedown; "
          f"deleted bytes physically reclaimed")

    # --- 6. back to training: order + marginals ------------------------
    order = epoch_shuffle(survivors, n_epochs=2, n_shards=4)
    show(order.filter("epoch = 0 AND shard = 0").orderBy("pos").limit(5),
         label="epoch 0 / shard 0 head of the training order")
    marginals = grouping_sets_agg(
        survivors, [["source"], ["lang"]],
        {"n_docs": F.count(F.lit(1)), "chars": F.sum("n_chars")},
    )
    show(marginals.orderBy("grouping_id", "source", "lang").limit(8),
         label="per-source and per-lang marginals (one shuffle)")
    return marginals.localCheckpoint()


def main(spark):
    with tempfile.TemporaryDirectory(prefix="e26_") as tmp:
        return _main(spark, tmp)


if __name__ == "__main__":
    main(get_example_spark())
