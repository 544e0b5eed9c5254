"""Job 4 — the REAL G26-G28 doc-graph dispatcher driven from streaming.

Reference: ``synchronize_elastic_job.py:55-142`` consumes EntityMessage
diff events and maintains the denormalized App Search document store —
breadcrumbs (G9), derived fields (G15), doc creation (G23), deletes
(Q7), all collapsed last-writer-wins (D9). The sibling
``streaming/synchronize.py`` maintains aggregate proxies; THIS module
feeds each micro-batch of diff events through the full set-at-a-time
dispatcher ``plans.synchronize_plan.synchronize_batch`` inside
``foreachBatch``, merging real APP_SEARCH_DOC rows into the versioned
store.

Stream semantics (deterministic under any batch split):

- The store is seeded with static domain docs ``D0..D9`` (built by the
  same G23 ``create_docs`` kernel, so sourcetype/supertypenames come
  from the real closure).
- Every user's entity doc ``E{user_id}`` is pre-seeded (same G23
  kernel, unparented), so update/relationship events always have a doc
  to act on — the reference likewise assumes the doc exists for
  non-create events (synchronize_elastic_job.py:87-118).
- Each user's events drive ONE dispatcher branch, selected by
  ``user_id % 4`` so ALL FOUR event families of the reference's job 4
  (synchronize_elastic_job.py:66-121) are exercised from the stream:
  branch 0 = ``EntityCreated`` (G23 full rebuild, attrs + parent rel
  from the last event) with ``error`` events as ``EntityDeleted``
  (Q7) — a later create resurrects the doc, the reference's
  create/delete lifecycle; branch 1 = ``EntityAttributeAudit``
  (G24 name/definition/email updates + rename-cascade path), branch 2
  = ``EntityRelationshipAudit`` with an inserted parent link (G26
  re-parent: G9/G15 + descendant walks), branch 3 =
  ``EntityRelationshipAudit`` with a deleted parent link (G27 orphan:
  G11/G16). Branches 1-3 have no create path, so a delete there could
  never be undone and would make the final store depend on batch
  boundaries; they therefore IGNORE error events (reduce over
  non-error events only) — the ``indirect_change``-style drop of
  events a branch cannot apply.
- Within a batch, each user's events reduce to ONE message — the
  reference's ``updated_docs`` dict collapse (D9) applied at message
  level. The reduction (branch 0: last event; branches 1-3: last
  non-error event, if any) is chosen so applying per-batch messages in
  sequence equals applying the whole stream's reduction once:
  batch-split invariant, so one batch SQL statement can oracle the
  incremental run.
- Each batch publishes ONE new store version (upserts + deletes in a
  single keyed combine) with the batch id recorded atomically, so a
  replayed micro-batch is skipped (effectively-once).

Scale: per batch the dispatcher joins the batch's touched guids against
the store snapshot with broadcast joins; nothing rescans stream
history. The store is hash-bucketed (``BucketedParquetUpsertStore``),
so the version publish rewrites only buckets holding the batch's
upserted or deleted guids — the Delta/Iceberg MERGE file-pruning
posture, not an O(store) rewrite. The sink step
(:func:`publish_doc_batch`) materializes three batch-sized frames per
micro-batch: the messages, and the dispatcher's upserts and deletes.
The merge reads its batch twice (touched-bucket collect, then the
bucket write, whose combine reads the upserts twice more), so without
them every read re-runs the dispatcher's 12-branch union. The store
snapshot is not materialized: it is a flat scan, and a copy would cost
O(store) per batch. A replayed batch is skipped on
``store.last_batch_id()`` before any of this is planned.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hierarchy import supertype_closure_df
from ..operators.docstore import create_docs
from ..operators.materialize import materialize
from ..plans.synchronize_plan import apply_batch, synchronize_batch
from ..schemas import RELATIONSHIP_ATTRIBUTES
from .replay import replay
from .sources import events_file_stream, stage_events
from .store import BucketedParquetUpsertStore

N_DOMAINS = 10


def seed_domain_docs(spark: SparkSession, closure: DataFrame) -> DataFrame:
    """The static domain layer ``D0..D9``, built by the G23 create
    kernel itself (create_doc, synchronize_app_search.py:565-592) so
    sourcetype/m4isourcetype/supertypenames are the closure's answers,
    then given a domain lead for the G15 inherit path to copy down."""
    rows = [
        (
            "m4i_data_domain",
            f"qn://D{i}",
            f"D{i}",
            {"name": f"Domain{i}"},
        )
        for i in range(N_DOMAINS)
    ]
    msgs = spark.createDataFrame(
        rows,
        "type_name string, qualified_name string, guid string, "
        "attributes map<string,string>",
    ).select(
        "type_name",
        "qualified_name",
        "guid",
        F.struct(
            F.col("attributes"),
            F.lit(None).cast(RELATIONSHIP_ATTRIBUTES).alias(
                "relationship_attributes"
            ),
        ).alias("new_value"),
    )
    docs = create_docs(msgs, closure)
    return docs.withColumn(
        "deriveddomainleadguid",
        F.concat(F.lit("L"), F.substring("guid", 2, 10)),
    )


def seed_entity_docs(
    spark: SparkSession, sf_dir: str, closure: DataFrame
) -> DataFrame:
    """Unparented entity docs ``E{user_id}`` for every user in the
    stream, built by the same G23 create kernel (create_doc,
    synchronize_app_search.py:565-592) — the pre-existing doc store the
    attribute/relationship branches mutate."""
    from ..sources import load_table

    users = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("props").isNotNull())
        .select("user_id")
        .distinct()
    )
    msgs = users.select(
        F.lit("m4i_data_entity").alias("type_name"),
        F.concat(F.lit("qn://E"), F.col("user_id")).alias("qualified_name"),
        F.concat(F.lit("E"), F.col("user_id")).alias("guid"),
        F.struct(
            F.create_map(
                F.lit("name"), F.concat(F.lit("Seed"), F.col("user_id"))
            ).alias("attributes"),
            F.lit(None).cast(RELATIONSHIP_ATTRIBUTES).alias(
                "relationship_attributes"
            ),
        ).alias("new_value"),
    )
    return create_docs(msgs, closure)


def batch_entity_messages(batch: DataFrame) -> DataFrame:
    """One EntityMessage per guid for this micro-batch — the D9
    message-level collapse feeding the dispatcher, so repeated updates
    to one doc within a batch resolve exactly like the reference's
    ``updated_docs`` dict (synchronize_app_search.py:335,396,462,524,561).

    The per-user reduction is branch 0: last event by (ts_ms,
    event_id); branches 1-3: last NON-error event (no message when a
    user's batch slice is all errors). The branch decision table
    (module docstring) turns it into exactly one of the four reference
    event shapes (synchronize_elastic_job.py:66-121)."""
    events = batch.filter(F.col("props").isNotNull())
    branch = F.col("user_id") % 4
    order = F.struct(F.col("ts_ms"), F.col("event_id"))
    picked = F.struct("event_id", "event_type", "value")
    latest = (
        events.filter(
            (branch == 0) | (F.col("event_type") != "error")
        )
        .groupBy("user_id")
        .agg(F.max_by(picked, order).alias("e"))
        .select("user_id", "e.*")
    )
    guid = F.concat(F.lit("E"), F.col("user_id"))
    dom = F.concat(F.lit("D"), F.col("user_id") % N_DOMAINS)
    rel_ref = F.struct(
        dom.alias("guid"),
        F.lit("m4i_data_domain").alias("type_name"),
        F.lit("ACTIVE").alias("entity_status"),
        F.lit(None).cast("string").alias("display_text"),
        F.lit("parent").alias("relationship_type"),
        F.lit(None).cast("string").alias("relationship_guid"),
        F.lit("ACTIVE").alias("relationship_status"),
        F.lit(None).cast("map<string,string>").alias("relationship_attributes"),
        F.lit(None).cast("map<string,string>").alias("unique_attributes"),
    )
    attributes = F.create_map(
        F.lit("name"),
        F.concat(F.lit("U"), F.col("user_id"), F.lit("~"), F.col("event_id")),
        F.lit("definition"),
        F.col("event_type"),
        F.lit("email"),
        F.concat(F.lit("u"), F.col("user_id"), F.lit("@ex.com")),
    )
    parent_rels = F.create_map(F.lit("parentEntity"), F.array(rel_ref))
    empty_rels = F.lit(None).cast(RELATIONSHIP_ATTRIBUTES)
    no_attrs = F.array().cast("array<string>")
    deleted = (branch == 0) & (F.col("event_type") == "error")
    return latest.select(
        F.lit("m4i_data_entity").alias("type_name"),
        F.concat(F.lit("qn://E"), F.col("user_id")).alias("qualified_name"),
        guid.alias("guid"),
        F.when(deleted, F.lit("EntityDeleted"))
        .when(branch == 0, F.lit("EntityCreated"))
        .when(branch == 1, F.lit("EntityAttributeAudit"))
        .otherwise(F.lit("EntityRelationshipAudit"))
        .alias("event_type"),
        F.lit(True).alias("direct_change"),
        no_attrs.alias("inserted_attributes"),
        F.when(
            branch == 1,
            F.array(F.lit("name"), F.lit("definition"), F.lit("email")),
        )
        .otherwise(no_attrs)
        .alias("changed_attributes"),
        no_attrs.alias("deleted_attributes"),
        F.when(branch == 2, parent_rels).otherwise(empty_rels).alias(
            "inserted_relationships"
        ),
        F.when(
            branch == 3, F.create_map(F.lit("parentDomain"), F.array(rel_ref))
        )
        .otherwise(empty_rels)
        .alias("deleted_relationships"),
        F.struct(
            attributes.alias("attributes"),
            parent_rels.alias("relationship_attributes"),
        ).alias("new_value"),
    )


def publish_doc_batch(
    store: BucketedParquetUpsertStore,
    messages: DataFrame,
    batch_id: int,
    closure: DataFrame,
    dispatch: Callable[..., tuple[DataFrame, DataFrame]],
) -> None:
    """Job 4's ``foreachBatch`` step: run ``dispatch`` once over this
    micro-batch's EntityMessages and publish its (upserts, deletes) as
    ONE store version recording ``batch_id``. A batch the store already
    applied returns before anything is planned. ``dispatch`` receives
    the materialized messages and returns a lazy plan; both of its
    outputs are materialized before the merge, and all three frames are
    released after it (why: the module docstring's "Scale" paragraph).
    """
    last = store.last_batch_id()
    if last is not None and batch_id <= last:
        return
    frames = [materialize(messages)]
    try:
        lazy = dispatch(frames[0], store.current(), closure)
        frames += [materialize(df) for df in lazy]
        upserts, deletes = frames[1:]
        store.merge(
            upserts,
            combine=lambda cur, ups: apply_batch(cur, ups, deletes),
            batch_id=batch_id,
            touch_keys=deletes,
        )
    finally:
        for frame in reversed(frames):
            frame.unpersist()


def run_synchronize_appsearch(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    """Run the bounded diff-event stream through the G26-G28 dispatcher;
    return the final App Search doc store.

    One dispatcher pass per micro-batch: a same-batch cascade lands in
    the next batch, as in the reference (SURVEY §7.5). The per-user
    message synthesis never cascades across users, so looping to a
    fixpoint (``plans.synchronize_batch_to_fixpoint``) would give the
    same store here. The sink looks ``synchronize_batch`` up in this
    module's globals on every batch, so a wrapper installed on the
    module name (a profiler span) sees each build."""
    closure = supertype_closure_df(spark).localCheckpoint()
    staging = stage_events(
        spark, sf_dir, os.path.join(workdir, "staging_events"), n_files
    )
    # The store the reference grows unboundedly in App Search
    # (synchronize_app_search/elastic.py:43-93): merges here must be
    # bounded by TOUCHED buckets, not store size.
    store = BucketedParquetUpsertStore(
        spark, os.path.join(workdir, "appsearch_docs"), key_cols=["guid"]
    )
    if not store.has_state():
        store.merge(
            seed_domain_docs(spark, closure).unionByName(
                seed_entity_docs(spark, sf_dir, closure)
            )
        )

    def sink(batch: DataFrame, batch_id: int) -> None:
        publish_doc_batch(
            store,
            batch_entity_messages(batch),
            batch_id,
            closure,
            synchronize_batch,
        )

    replay(
        events_file_stream(spark, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_synchronize_docs"),
    )

    return store.require_current()
