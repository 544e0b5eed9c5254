"""End-to-end Structured Streaming pipeline queries (SURVEY §0, §3).

Each entry replays the ``events`` table as a bounded, time-ordered file
stream (micro-batched via ``maxFilesPerTrigger``) through one of the
reference's four jobs re-expressed in ``streaming/``, and returns the
**final materialized state** — which the DuckDB oracle recomputes as one
batch SQL statement over the same input. A hash match therefore proves
the incremental path (keyed state + ``foreachBatch`` merges across
micro-batches) converges to exactly the batch answer: the streaming/batch
duality the reference never had (its state lives in Elasticsearch and is
only eyeballed via stdout, README.md:19-25).

These run real streaming machinery (checkpoints, state store,
``applyInPandasWithState``), so they are slower than the batch queries —
they are correctness probes for the pipeline layer, not bench headliners.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _workdir(prefix: str) -> str:
    # Deliberately not cleaned up here: the returned DataFrame lazily
    # reads these files when the caller collects it.
    return tempfile.mkdtemp(prefix=f"m4i_spark_{prefix}_")


def stream_publish_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Job 2: versioned entity-state store built by keyed upsert per
    micro-batch (publish_state_job.py:49-104); poison records divert to
    the dead-letter channel (see stream_dead_letter_box)."""
    from ..streaming.publish_state import run_publish_state

    final, _dead = run_publish_state(spark, sf_dir, _workdir("publish_state"))
    return final.orderBy("doc_id")


_POISON_SQL = "(props IS NULL OR (event_type = 'error' AND value < 1.0))"

PUBLISH_STATE_SQL = f"""
WITH ranked AS (
    SELECT user_id || '_' || epoch_ms(ts) AS doc_id,
           user_id AS guid,
           epoch_ms(ts) AS update_time_ms,
           event_id,
           event_type,
           round(value, 6) AS value,
           props,
           row_number() OVER (PARTITION BY user_id, ts
                              ORDER BY event_id DESC) AS rn
    FROM events
    WHERE NOT {_POISON_SQL}
)
SELECT doc_id, guid, update_time_ms, event_id, event_type, value, props
FROM ranked
WHERE rn = 1
ORDER BY doc_id
"""


def stream_dead_letter_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: the dead-letter side channel of the publish_state run — one
    DeadLetterBox record per poison input (get_entity_job.py:60-82,
    DeadLetterBoxMessage.py:12-18)."""
    from ..streaming.publish_state import run_publish_state

    _final, dead = run_publish_state(spark, sf_dir, _workdir("dead_letter"))
    return dead.orderBy("event_id")


DEAD_LETTER_BOX_SQL = f"""
SELECT epoch_ms(ts) AS timestamp_ms,
       '{{"event_id":' || event_id || ',"user_id":' || user_id
           || ',"event_type":"' || event_type || '"}}' AS original_notification,
       'publish_state' AS job,
       CASE WHEN props IS NULL THEN 'missing payload'
            ELSE 'sub-threshold error value' END AS description,
       event_id
FROM events
WHERE {_POISON_SQL}
ORDER BY event_id
"""


def stream_determine_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Job 3: per-key stateful CDC — previous version from streaming
    state, not a per-record store query (determine_change_job.py:194-226)."""
    from ..streaming.determine_change import run_determine_change

    final = run_determine_change(spark, sf_dir, _workdir("determine_change"))
    return final.orderBy("event_id")


DETERMINE_CHANGE_SQL = """
SELECT event_id,
       user_id,
       round(value, 6) AS value,
       round(lag(value) OVER w, 6) AS prev_value,
       epoch_ms(lag(ts) OVER w) AS prev_ts_ms,
       CASE WHEN lag(ts) OVER w IS NULL THEN 'EntityCreated'
            WHEN value <> lag(value) OVER w THEN 'EntityValueAudit'
            ELSE 'EntityUnchanged' END AS change_kind
FROM events
WHERE props IS NOT NULL
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY event_id
"""


def stream_determine_change_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Job 3 over FULL entity payloads: keyed streaming state holds the
    last complete entity version (attributes map + relationshipAttributes
    map), and each event emits an EntityMessage-shaped diff — inserted/
    changed/deleted attributes plus added/deleted relationship guids per
    key (determine_change_job.py:230-425, AtlasEntityChangeMessage.py:12-30).
    The oracle recomputes every diff with lag() over the same entity
    construction — a hash match proves the incremental map-diff state
    machine equals the batch as-of answer."""
    from ..streaming.determine_change import run_determine_change_entities

    final = run_determine_change_entities(
        spark, sf_dir, _workdir("determine_change_entities")
    )
    return final.orderBy("event_id")


DETERMINE_CHANGE_ENTITIES_SQL = """
WITH base AS (
    SELECT event_id, user_id, ts, event_type, value,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k
    FROM events
    WHERE props IS NOT NULL
), ent AS (
    SELECT event_id, user_id, ts,
           event_type AS a_et,
           CAST(floor(value * 100) AS BIGINT) AS a_vc,
           CASE WHEN k % 2 = 0 THEN k END AS a_k,
           list_sort(list_distinct(['CH' || (k % 4), 'CH' || (user_id % 4)]))
               AS r_channel,
           CASE WHEN value >= 5.0 THEN ['F' || (k % 3)]
                ELSE CAST([] AS VARCHAR[]) END AS r_flags
    FROM base
    WHERE k IS NOT NULL
), lagged AS (
    SELECT *,
           (lag(event_id) OVER w IS NULL) AS created,
           lag(a_et) OVER w AS p_et,
           lag(a_vc) OVER w AS p_vc,
           lag(a_k) OVER w AS p_k,
           lag(r_channel) OVER w AS p_channel,
           lag(r_flags) OVER w AS p_flags
    FROM ent
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
), rel AS (
    SELECT *,
           CASE WHEN created THEN r_channel
                ELSE list_filter(r_channel, x -> NOT list_contains(p_channel, x))
           END AS add_channel,
           CASE WHEN created THEN CAST([] AS VARCHAR[])
                ELSE list_filter(p_channel, x -> NOT list_contains(r_channel, x))
           END AS del_channel,
           CASE WHEN created THEN r_flags
                ELSE list_filter(r_flags, x -> NOT list_contains(p_flags, x))
           END AS add_flags,
           CASE WHEN created THEN CAST([] AS VARCHAR[])
                ELSE list_filter(p_flags, x -> NOT list_contains(r_flags, x))
           END AS del_flags
    FROM lagged
), diffs AS (
    SELECT event_id, user_id, created,
           coalesce(array_to_string(list_filter([
               CASE WHEN created THEN 'event_type=' || a_et END,
               CASE WHEN a_k IS NOT NULL AND (created OR p_k IS NULL)
                    THEN 'k=' || a_k END,
               CASE WHEN created THEN 'value_cents=' || a_vc END
           ], x -> x IS NOT NULL), '|'), '') AS inserted_attrs,
           coalesce(array_to_string(list_filter([
               CASE WHEN NOT created AND a_et <> p_et
                    THEN 'event_type=' || a_et END,
               CASE WHEN NOT created AND a_k IS NOT NULL AND p_k IS NOT NULL
                         AND a_k <> p_k THEN 'k=' || a_k END,
               CASE WHEN NOT created AND a_vc <> p_vc
                    THEN 'value_cents=' || a_vc END
           ], x -> x IS NOT NULL), '|'), '') AS changed_attrs,
           coalesce(array_to_string(list_filter([
               CASE WHEN NOT created AND a_k IS NULL AND p_k IS NOT NULL
                    THEN 'k' END
           ], x -> x IS NOT NULL), '|'), '') AS deleted_attrs,
           coalesce(array_to_string(list_filter([
               CASE WHEN len(add_channel) > 0
                    THEN 'channel:' || array_to_string(add_channel, ',') END,
               CASE WHEN len(add_flags) > 0
                    THEN 'flags:' || array_to_string(add_flags, ',') END
           ], x -> x IS NOT NULL), '|'), '') AS added_rels,
           coalesce(array_to_string(list_filter([
               CASE WHEN len(del_channel) > 0
                    THEN 'channel:' || array_to_string(del_channel, ',') END,
               CASE WHEN len(del_flags) > 0
                    THEN 'flags:' || array_to_string(del_flags, ',') END
           ], x -> x IS NOT NULL), '|'), '') AS deleted_rels
    FROM rel
)
SELECT event_id, user_id,
       CASE WHEN created THEN 'EntityCreated'
            WHEN inserted_attrs = '' AND changed_attrs = ''
                 AND deleted_attrs = '' AND added_rels = ''
                 AND deleted_rels = '' THEN 'EntityUnchanged'
            ELSE 'EntityChanged' END AS change_kind,
       inserted_attrs, changed_attrs, deleted_attrs, added_rels, deleted_rels
FROM diffs
ORDER BY event_id
"""


def stream_synchronize_docstore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Job 4: incrementally maintained denormalized doc store —
    associative per-batch combine (synchronize_elastic_job.py:55-142)."""
    from ..streaming.synchronize import run_synchronize

    final = run_synchronize(spark, sf_dir, _workdir("synchronize"))
    return final.orderBy("guid")


SYNCHRONIZE_SQL = """
WITH ranked AS (
    SELECT user_id, value, event_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
    WHERE props IS NOT NULL
), agg AS (
    SELECT user_id AS guid,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value,
           round(min(value), 6) AS min_value,
           round(max(value), 6) AS max_value,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS event_types,
           epoch_ms(max(ts)) AS last_ts_ms
    FROM events
    WHERE props IS NOT NULL
    GROUP BY user_id
)
SELECT agg.guid, agg.n_events, agg.sum_value, agg.min_value, agg.max_value,
       agg.event_types, agg.last_ts_ms,
       round(ranked.value, 6) AS last_value,
       ranked.event_type AS last_event_type
FROM agg
JOIN ranked ON ranked.user_id = agg.guid AND ranked.rn = 1
ORDER BY agg.guid
"""


def stream_synchronize_appsearch_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Job 4 driving the REAL G26-G28 dispatcher with ALL FOUR event
    families of the reference (synchronize_elastic_job.py:66-121):
    every micro-batch of EntityMessage diff events runs through
    ``plans.synchronize_plan`` inside ``foreachBatch``. Users are
    sharded by ``user_id % 4`` across the branches — EntityCreated
    (G23 + G9/G15 under seeded domains), EntityAttributeAudit (G24
    name/definition/email updates), EntityRelationshipAudit with an
    inserted parent link (G26 re-parent), and with a deleted parent
    link (G27 orphan) — with error events as EntityDeleted (Q7). The
    oracle recomputes the final doc store from each user's event
    reduction in one SQL statement; a hash match proves the
    incremental doc-graph maintenance converges to the batch answer
    across every branch."""
    from ..streaming.synchronize_docs import run_synchronize_appsearch

    final = run_synchronize_appsearch(spark, sf_dir, _workdir("synchronize_docs"))
    return final.select(
        "guid",
        "typename",
        "name",
        "referenceablequalifiedname",
        "sourcetype",
        F.array_join("m4isourcetype", "|").alias("m4isourcetype"),
        F.array_join("supertypenames", "|").alias("supertypenames"),
        "definition",
        "email",
        "parentguid",
        F.array_join("breadcrumbguid", "|").alias("breadcrumbguid"),
        F.array_join("breadcrumbname", "|").alias("breadcrumbname"),
        F.array_join("breadcrumbtype", "|").alias("breadcrumbtype"),
        "deriveddataownerguid",
        "deriveddomainleadguid",
    ).orderBy("guid")


SYNCHRONIZE_APPSEARCH_SQL = """
WITH ev AS (
    SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms
    FROM events
    WHERE props IS NOT NULL
), last_all AS (
    SELECT user_id, event_id, event_type FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                   ORDER BY ts_ms DESC, event_id DESC) AS rn FROM ev
    ) WHERE rn = 1
), last_ne AS (
    SELECT user_id, event_id, event_type FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                   ORDER BY ts_ms DESC, event_id DESC) AS rn
        FROM ev WHERE event_type <> 'error'
    ) WHERE rn = 1
), shaped AS (
    SELECT u.user_id, u.user_id % 4 AS branch,
           la.event_id AS la_id, la.event_type AS la_type,
           ne.event_id AS ne_id, ne.event_type AS ne_type
    FROM (SELECT DISTINCT user_id FROM ev) u
    LEFT JOIN last_all la USING (user_id)
    LEFT JOIN last_ne ne USING (user_id)
), alive AS (
    -- branch 0: the LAST event decides (error = deleted, a later
    -- create resurrects); branches 1-3 ignore errors entirely, so
    -- their docs always exist (seeded shape if never updated).
    SELECT * FROM shaped
    WHERE branch <> 0 OR la_type <> 'error'
), entity_docs AS (
    -- branch 0 = full create; 1 = attribute updates on the seeded doc;
    -- 2 = re-parented seeded doc; 3 = orphaned seeded doc (= seed).
    SELECT 'E' || user_id AS guid,
           'm4i_data_entity' AS typename,
           CASE WHEN branch = 0 THEN 'U' || user_id || '~' || la_id
                WHEN branch = 1 AND ne_id IS NOT NULL
                    THEN 'U' || user_id || '~' || ne_id
                ELSE 'Seed' || user_id END AS name,
           'qn://E' || user_id AS referenceablequalifiedname,
           'Business' AS sourcetype,
           'm4i_data_entity' AS m4isourcetype,
           'Referenceable|m4i_data_entity|m4i_referenceable' AS supertypenames,
           CASE WHEN branch = 0 THEN la_type
                WHEN branch = 1 THEN ne_type END AS definition,
           CASE WHEN branch = 0 OR (branch = 1 AND ne_id IS NOT NULL)
                THEN 'u' || user_id || '@ex.com' END AS email,
           CASE WHEN branch = 0 OR (branch = 2 AND ne_id IS NOT NULL)
                THEN 'D' || (user_id % 10) END AS parentguid,
           CASE WHEN branch = 0 OR (branch = 2 AND ne_id IS NOT NULL)
                THEN 'D' || (user_id % 10) ELSE '' END AS breadcrumbguid,
           CASE WHEN branch = 0 OR (branch = 2 AND ne_id IS NOT NULL)
                THEN 'Domain' || (user_id % 10) ELSE '' END AS breadcrumbname,
           CASE WHEN branch = 0 OR (branch = 2 AND ne_id IS NOT NULL)
                THEN 'm4i_data_domain' ELSE '' END AS breadcrumbtype,
           CAST(NULL AS VARCHAR) AS deriveddataownerguid,
           CASE WHEN branch = 0 OR (branch = 2 AND ne_id IS NOT NULL)
                THEN 'L' || (user_id % 10) END AS deriveddomainleadguid
    FROM alive
), domain_docs AS (
    SELECT 'D' || i AS guid,
           'm4i_data_domain' AS typename,
           'Domain' || i AS name,
           'qn://D' || i AS referenceablequalifiedname,
           'Business' AS sourcetype,
           'm4i_data_domain' AS m4isourcetype,
           'Referenceable|m4i_data_domain|m4i_referenceable' AS supertypenames,
           CAST(NULL AS VARCHAR) AS definition,
           CAST(NULL AS VARCHAR) AS email,
           CAST(NULL AS VARCHAR) AS parentguid,
           '' AS breadcrumbguid,
           '' AS breadcrumbname,
           '' AS breadcrumbtype,
           CAST(NULL AS VARCHAR) AS deriveddataownerguid,
           'L' || i AS deriveddomainleadguid
    FROM range(10) t(i)
)
SELECT * FROM entity_docs
UNION ALL
SELECT * FROM domain_docs
ORDER BY guid
"""


def stream_get_entity_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Job 1: op-type filter + broadcast enrichment join + enveloped
    output — the per-record REST enrichment (S12 get_entity_by_guid,
    get_entity_job.py:42-43) re-expressed as a stream-static join
    (get_entity_job.py:27-82). The per-record Keycloak token fetch (S15,
    get_entity_job.py:37) has no analogue: auth is connector-level
    config resolved once per micro-batch, never per row."""
    from ..streaming.get_entity import run_get_entity

    final, _dead = run_get_entity(spark, sf_dir, _workdir("get_entity"))
    return final.orderBy("event_id")


GET_ENTITY_SQL = """
SELECT event_id,
       user_id,
       '{"kafka_notification":{"event_id":' || event_id
           || ',"user_id":' || user_id
           || ',"event_type":"' || event_type
           || '"},"atlas_entity":{"entity_name":"' || c_name
           || '","entity_nation":' || c_nationkey || '}}' AS envelope
FROM events
JOIN customer ON user_id = c_custkey
WHERE event_type IN ('signup', 'purchase', 'error')
ORDER BY event_id
"""


def stream_windowed_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 1-hour tumbling windows, update-mode merged — the
    final store must equal the one-shot batch aggregation
    (streaming/windowed.py)."""
    from ..streaming.windowed import run_windowed_counts

    final = run_windowed_counts(spark, sf_dir, _workdir("windowed"))
    return final.orderBy("window_start_ms", "event_type")


WINDOWED_SQL = """
SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms,
       event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY window_start_ms, event_type
"""


def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with watermark-bounded state
    (streaming/stream_dedup.py): every 10th event is re-delivered 30
    minutes later inside the stream; the final store must equal the
    plain distinct input."""
    from ..streaming.stream_dedup import run_stream_dedup

    final = run_stream_dedup(spark, sf_dir, _workdir("stream_dedup"))
    return final.orderBy("event_id")


STREAM_DEDUP_SQL = """
SELECT event_id, user_id, event_type, round(value, 6) AS value
FROM events
ORDER BY event_id
"""


def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join
    (streaming/interval_join.py): each signup matched to the same
    user's purchases within the following hour; state bounded by the
    watermark + interval, not stream length."""
    from ..streaming.interval_join import run_interval_join

    final = run_interval_join(spark, sf_dir, _workdir("interval_join"))
    return final.orderBy("signup_event_id", "purchase_event_id")


INTERVAL_JOIN_SQL = """
SELECT s.event_id AS signup_event_id,
       p.event_id AS purchase_event_id,
       s.user_id,
       epoch_ms(p.ts) - epoch_ms(s.ts) AS delay_ms
FROM events s
JOIN events p
  ON s.user_id = p.user_id
 AND s.event_type = 'signup'
 AND p.event_type = 'purchase'
 AND p.ts >= s.ts
 AND p.ts <= s.ts + INTERVAL 1 HOUR
ORDER BY signup_event_id, purchase_event_id
"""


def stream_interval_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER watermarked interval join: every signup row appears,
    with its in-window purchases or one NULL row once provably
    unmatched — unmatched decided over the complete bounded stream via
    the signup store, so the batch LEFT JOIN oracles it exactly (see
    run_interval_join_left for why the native leftOuter operator's
    end-of-stream NULL emission cannot be)."""
    from ..streaming.interval_join import run_interval_join_left

    final = run_interval_join_left(
        spark, sf_dir, _workdir("interval_join_left")
    )
    return final.orderBy("signup_event_id", "purchase_event_id")


INTERVAL_JOIN_LEFT_SQL = """
SELECT s.event_id AS signup_event_id,
       p.event_id AS purchase_event_id,
       s.user_id,
       epoch_ms(p.ts) - epoch_ms(s.ts) AS delay_ms
FROM events s
LEFT JOIN events p
  ON s.user_id = p.user_id
 AND p.event_type = 'purchase'
 AND p.ts >= s.ts
 AND p.ts <= s.ts + INTERVAL 1 HOUR
WHERE s.event_type = 'signup'
ORDER BY signup_event_id, purchase_event_id
"""


def stream_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus curation (streaming/corpus_ingest.py): documents
    arrive in doc_id-ordered micro-batches; each batch is scored with
    the batch family's exact expressions (lang ID, quality, fingerprint,
    PII scrub), gated, and exact-deduplicated against every previously
    accepted document via the fingerprint-keyed insert-only store —
    keep-first survivorship across batches, O(batch) merge cost."""
    from ..streaming.corpus_ingest import run_corpus_ingest

    final = run_corpus_ingest(spark, sf_dir, _workdir("corpus_ingest"))
    return final.orderBy("doc_id")


def _stream_corpus_ingest_sql() -> str:
    from .llm_corpus import _EMAIL_RE, _PHONE_RE
    from .llm_text import _ALL_STOPWORDS_SQL, _LANG_SCORE_SQL

    return rf"""
WITH lang_scored AS (
    SELECT doc_id, {_LANG_SCORE_SQL}
    FROM documents
), lang AS (
    SELECT doc_id,
           CASE
               WHEN greatest(score_de, score_en, score_es) = 0 THEN 'und'
               WHEN score_de >= score_en AND score_de >= score_es THEN 'de'
               WHEN score_en >= score_es THEN 'en'
               ELSE 'es'
           END AS predicted_lang
    FROM lang_scored
), feat AS (
    SELECT doc_id, text,
           string_split_regex(trim(text), '\s+')        AS toks,
           string_split_regex(trim(lower(text)), '\s+') AS ltoks,
           length(text)                                  AS n_chars,
           length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct
    FROM documents
), scored AS (
    SELECT doc_id,
           len(toks) AS n_tokens,
           round(0.4 * least(len(toks) / 50.0, 1.0)
               + 0.3 * (len(list_distinct(ltoks))::DOUBLE / greatest(len(ltoks), 1))
               + 0.3 * least((len(list_filter(ltoks,
                     t -> list_contains({_ALL_STOPWORDS_SQL}, t)))::DOUBLE
                     / greatest(len(ltoks), 1)) * 5, 1.0)
               - 0.2 * least((n_punct::DOUBLE / greatest(n_chars, 1)) * 10, 1.0),
               6) AS quality,
           list_reduce(
               list_prepend(0::BIGINT,
                   list_transform(toks,
                       w -> list_reduce(
                                list_prepend(0::BIGINT,
                                    list_transform(string_split(w, ''), c -> ascii(c)::BIGINT)),
                                (acc, ch) -> (acc * 31 + ch) % 1000000007))),
               (acc, h) -> (acc * 31 + h) % 1000000007
           ) AS fingerprint,
           regexp_replace(
               regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
               '{_PHONE_RE}', '<PHONE>', 'g') AS scrubbed_text
    FROM feat
), kept AS (
    SELECT s.doc_id, l.predicted_lang, s.n_tokens, s.quality,
           s.fingerprint, s.scrubbed_text
    FROM scored s JOIN lang l USING (doc_id)
    WHERE l.predicted_lang <> 'und' AND s.quality >= 0.5
), first AS (
    SELECT fingerprint, min(doc_id) AS doc_id FROM kept GROUP BY 1
)
SELECT k.doc_id, k.predicted_lang, k.n_tokens, k.quality,
       k.fingerprint, k.scrubbed_text
FROM kept k JOIN first USING (fingerprint, doc_id)
ORDER BY doc_id
"""


def stream_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MinHash-LSH near-dedup (streaming/near_dedup.py):
    documents arrive in doc_id-ordered micro-batches; each batch's docs
    are dropped iff a verified 3-gram-Jaccard >= 0.5 pair exists against
    ANY earlier-seen doc (band-index + signature state, bucket-pruned
    reads) or a lower-id doc of the same batch — the batch operator's
    keep-first rule, evaluated incrementally."""
    from ..streaming.near_dedup import run_stream_near_dedup

    final = run_stream_near_dedup(spark, sf_dir, _workdir("near_dedup"))
    return final.orderBy("doc_id")


def _stream_near_dedup_sql() -> str:
    from .llm_dedup import _PAIRS_SQL

    return rf"""
WITH pairs AS ({_PAIRS_SQL}),
toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
), sh AS (
    SELECT doc_id,
           len(list_distinct(list_transform(
               range(1, greatest(len(w) - 2, 0) + 1),
               i -> array_to_string(w[i:i+2], ' ')))) AS n_shingles
    FROM toks
)
SELECT doc_id, n_shingles
FROM sh
WHERE doc_id NOT IN (SELECT DISTINCT id_b FROM pairs)
ORDER BY doc_id
"""


def stream_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SemDeDup (streaming/semantic_dedup.py): embeddings
    arrive in vec_id-ordered micro-batches; each vector's nearest
    lower-id in-cluster cosine is evaluated against cluster-pruned
    member state + the in-batch triangle, reproducing the batch
    semantic_dedup verdicts row for row (so the batch SQL is the
    oracle). Duplicates stay in state per the batch nn semantics."""
    from ..streaming.semantic_dedup import run_stream_semantic_dedup

    final = run_stream_semantic_dedup(spark, sf_dir, _workdir("semantic_dedup"))
    return final.orderBy("vec_id")


def _stream_semantic_dedup_sql() -> str:
    from .llm_similarity import SEMANTIC_DEDUP_SQL

    return SEMANTIC_DEDUP_SQL


def stream_media_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming media-ingest catalog (streaming/media_ingest.py):
    container payloads arrive in micro-batches, each demuxed through
    the batch query's Arrow kernel into an insert-only catalog store.
    Demux is a pure row function, so the catalog is batch-split
    invariant and the batch demux SQL is the oracle."""
    from ..streaming.media_ingest import run_stream_media_ingest

    final = run_stream_media_ingest(spark, sf_dir, _workdir("media_ingest"))
    return final.orderBy("doc_id")


def _stream_media_ingest_sql() -> str:
    from .llm_multimodal import CONTAINER_DEMUX_SQL

    return CONTAINER_DEMUX_SQL


def stream_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KMV distinct-count (streaming/sketch_state.py): orders
    arrive in micro-batches; each batch folds its bounded k-min partial
    into per-priority array state, and the final estimate equals the
    batch computation over all data — the mergeability property that
    makes the sketch stream-capable."""
    from ..streaming.sketch_state import run_stream_distinct_sketch

    final = run_stream_distinct_sketch(
        spark, sf_dir, _workdir("distinct_sketch")
    )
    return final.orderBy("priority")


def _stream_distinct_sketch_sql() -> str:
    from .sketches import _KMV_K, _scrambled_hash_sql

    scramble = _scrambled_hash_sql("'kmv:' || o_custkey::VARCHAR")
    return f"""
WITH hashed AS (
    SELECT DISTINCT o_orderpriority AS priority, {scramble} AS h
    FROM orders
), ranked AS (
    SELECT priority, h,
           row_number() OVER (PARTITION BY priority ORDER BY h) AS rn
    FROM hashed
)
SELECT priority,
       {_KMV_K} AS k,
       count(*) AS sketch_size,
       max(CASE WHEN rn = {_KMV_K} THEN h END) AS kth_hash,
       ({_KMV_K - 1}::BIGINT * 1000000007)
           // max(CASE WHEN rn = {_KMV_K} THEN h END) AS est_distinct
FROM ranked
WHERE rn <= {_KMV_K}
GROUP BY priority
ORDER BY priority
"""


def stream_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming type-2 dimension maintenance (streaming/scd2.py):
    time-ordered event micro-batches extend the per-user status
    history in place through the bucketed store's combine path; the
    maintained dimension equals the one-shot batch build, so the batch
    SCD2 oracle checks it directly."""
    from ..streaming.scd2 import run_stream_scd2

    final = run_stream_scd2(spark, sf_dir, _workdir("scd2"))
    return final.orderBy("user_id", "version")


def stream_windowed_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hourly-window distinct users as streamed KMV sketches
    (streaming/sketch_state.py): exact below k (the sketch IS the
    distinct set), estimator above k; window state bounded by windows
    seen × k longs instead of every (window, user) pair."""
    from ..streaming.sketch_state import run_stream_windowed_distinct

    final = run_stream_windowed_distinct(
        spark, sf_dir, _workdir("windowed_distinct")
    )
    return final.orderBy("window_start_ms")


def _stream_windowed_distinct_sql() -> str:
    from .sketches import _KMV_K, _scrambled_hash_sql

    scramble = _scrambled_hash_sql("'wdu:' || user_id::VARCHAR")
    return f"""
WITH hashed AS (
    SELECT DISTINCT epoch_ms(date_trunc('hour', ts)) AS window_start_ms,
           {scramble} AS h
    FROM events
), ranked AS (
    SELECT window_start_ms, h,
           row_number() OVER (PARTITION BY window_start_ms ORDER BY h)
               AS rn
    FROM hashed
)
SELECT window_start_ms,
       count(*) AS sketch_size,
       CASE WHEN count(*) < {_KMV_K} THEN count(*)
            ELSE ({_KMV_K - 1}::BIGINT * 1000000007)
                 // max(CASE WHEN rn = {_KMV_K} THEN h END)
       END AS est_distinct
FROM ranked
WHERE rn <= {_KMV_K}
GROUP BY window_start_ms
ORDER BY window_start_ms
"""


def _stream_scd2_sql() -> str:
    from .warehouse import SCD2_SQL

    return SCD2_SQL


def stream_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-language weighted reservoir
    (streaming/weighted_sample_state.py): each micro-batch contributes
    its top-k documents by Efraimidis–Spirakis priority, the store
    keeps the k largest of the union — a set operation, so the
    maintained reservoir exactly equals the batch draw."""
    from ..streaming.weighted_sample_state import run_stream_weighted_sample

    return run_stream_weighted_sample(
        spark, sf_dir, _workdir("weighted_sample")
    )


def _stream_weighted_sample_sql() -> str:
    from ..streaming.weighted_sample_state import SAMPLE_K
    from .llm_corpus import _scrambled_hash_sql_local

    scramble = _scrambled_hash_sql_local("'wrs:' || doc_id::VARCHAR")
    from ..operators import text as T

    return rf"""
WITH keyed AS (
    SELECT doc_id, lang,
           greatest(len(string_split_regex(trim(text), '\s+')), 1)
               AS n_tokens,
           ({scramble} + 1)::DOUBLE / {T.HASH_MOD} AS u
    FROM documents
), prioritized AS (
    SELECT doc_id, lang, n_tokens,
           round(pow(u, 1.0 / n_tokens::DOUBLE), 9) AS sample_key
    FROM keyed
), ranked AS (
    SELECT *, row_number() OVER (
               PARTITION BY lang ORDER BY sample_key DESC, doc_id) AS rn
    FROM prioritized
)
SELECT lang, doc_id, n_tokens, sample_key
FROM ranked
WHERE rn <= {SAMPLE_K}
ORDER BY lang, sample_key DESC, doc_id
"""



def _stream_duplicate_spans_sql() -> str:
    from .llm_dedup import DUPLICATE_SPAN_SQL

    return DUPLICATE_SPAN_SQL


def stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HyperLogLog (streaming/hll_state.py): per-batch partial
    registers fold into keyed state with an elementwise max — the
    textbook mergeable sketch, so the streamed estimate equals the
    batch approx_distinct_hll for any batch split."""
    from ..streaming.hll_state import run_stream_hll_distinct

    return run_stream_hll_distinct(
        spark, sf_dir, _workdir("hll_distinct")
    )


def _stream_hll_sql() -> str:
    from .sketches import ORACLES as SK

    return SK["approx_distinct_hll"]


def stream_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min sketch (streaming/countmin_state.py):
    per-batch partial counters fold into keyed state with an
    elementwise sum — counter addition is a commutative monoid, so the
    streamed sketch (and every probe off it) equals the batch
    approx_freq_countmin for any batch split."""
    from ..streaming.countmin_state import run_stream_countmin_freq

    return run_stream_countmin_freq(
        spark, sf_dir, _workdir("countmin_freq")
    )


def _stream_countmin_sql() -> str:
    from .sketches import ORACLES as SK

    return SK["approx_freq_countmin"]


def stream_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming perceptual image dedup (streaming/image_dedup.py):
    per-batch aHash group facts fold into hash-keyed state (SUM counts,
    MIN survivor — both monoids), so the streamed verdicts equal the
    batch image_perceptual_dedup for any batch split."""
    from ..streaming.image_dedup import run_stream_image_dedup

    return run_stream_image_dedup(
        spark, sf_dir, _workdir("image_dedup")
    )


def _stream_image_dedup_sql() -> str:
    from .llm_dedup import ORACLES as DD

    return DD["image_perceptual_dedup"]


def stream_audio_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming audio-analysis catalog (streaming/audio_ingest.py):
    per-batch Arrow decode + rFFT into an insert-only doc_id-keyed
    store; feature extraction is a pure row function, so the catalog
    is batch-split invariant and the batch audio_spectral_profile
    oracle checks the stream."""
    from ..streaming.audio_ingest import run_stream_audio_ingest

    return run_stream_audio_ingest(
        spark, sf_dir, _workdir("audio_ingest")
    )


def _stream_audio_sql() -> str:
    from .llm_multimodal import ORACLES as MM

    return MM["audio_spectral_profile"]


def stream_rate_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming anomaly detection (streaming/windowed.py): the
    maintained watermarked hourly-count state equals the batch
    aggregate exactly, and the readout applies the identical trailing-
    baseline scoring — so the batch event_rate_anomalies SQL oracles
    the stream."""
    from ..streaming.windowed import run_stream_rate_anomalies

    return run_stream_rate_anomalies(
        spark, sf_dir, _workdir("rate_anomalies")
    )


def _stream_anomaly_sql() -> str:
    from .streaming_like import ORACLES as SL

    return SL["event_rate_anomalies"]


def stream_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming span-level exact dedup (streaming/span_state.py):
    per-(window-hash, doc) counts and per-doc totals maintained as
    ADDITIVE keyed state across micro-batches; the readout recomputes
    the duplicate surface, so the stream equals the batch
    duplicate_span_stats exactly for any batch split."""
    from ..streaming.span_state import run_stream_span_dedup

    return run_stream_span_dedup(
        spark, sf_dir, _workdir("span_dedup")
    )


def stream_quantile_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quantiles via a mergeable bottom-k uniform sample
    (streaming/quantile_state.py): each micro-batch contributes its
    k-smallest (tag, value) pairs per event type, the store keeps the k
    smallest of the union — a set operation, so batch boundaries and
    restarts cannot change the sample — and quantiles are rank-indexed
    values of the value-sorted sample."""
    from ..streaming.quantile_state import run_stream_quantile_sample

    return run_stream_quantile_sample(
        spark, sf_dir, _workdir("quantile_sample")
    )


def _stream_quantile_sample_sql() -> str:
    from ..streaming.quantile_state import _QS, SAMPLE_K
    from .sketches import _scrambled_hash_sql

    scramble = _scrambled_hash_sql("'qs:' || event_id::VARCHAR")
    # 0.x::DOUBLE * n keeps DuckDB's ceil on the same IEEE doubles Spark
    # uses (decimal literals would round 0.99*100 to 99 where doubles
    # give 99.000...01 -> 100).
    q_cols = ",\n       ".join(
        f"vals[greatest(CAST(ceil({q}::DOUBLE * n_sample) AS INT), 1)]"
        f" AS q{int(q * 100)}"
        for q in _QS
    )
    return f"""
WITH tagged AS (
    SELECT event_type, {scramble} AS tag, event_id AS eid,
           round(value, 6) AS v
    FROM events
), ranked AS (
    SELECT event_type, tag, v,
           row_number() OVER (PARTITION BY event_type ORDER BY tag, eid)
               AS rn
    FROM tagged
), samp AS (
    SELECT event_type, list_sort(list(v)) AS vals,
           CAST(count(*) AS INT) AS n_sample
    FROM ranked
    WHERE rn <= {SAMPLE_K}
    GROUP BY event_type
)
SELECT event_type, n_sample,
       {q_cols}
FROM samp
ORDER BY event_type
"""


def synchronize_rel_cascades(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G26+G27 relationship-audit branches through the REAL dispatcher
    (``plans.synchronize_plan.synchronize_batch``) in one deterministic
    batch — the cascades the reference's missing ``await``s never ran
    (handle_inserted_relationships synchronize_app_search.py:334-398,
    handle_deleted_relationships :401-464).

    Scenario (all derived from ``events``, so the proof scales with the
    data): a seeded 3-level doc graph Root ← Domain{i} ← User entities
    ← Child attrs. Domains whose event count is ODD receive an
    inserted parent link to the root (G26: re-parent + G9 breadcrumb +
    G15 inherit; descendants get the G12 prefix-insert and G14 derived
    propagation). Users whose LAST event is a ``purchase`` get their
    parent link DELETED (G27: G11 breadcrumb clear + G16 un-inherit;
    their children get the G13 prefix-delete and the orphan's derived
    fields via G14). Branch collisions (an orphaned entity inside a
    re-parented domain) resolve by the dispatcher's documented branch
    priority — the oracle reproduces that with CASE order. A separate
    single-batch proof is used because multi-batch cascade outcomes are
    inherently snapshot-order dependent (SURVEY §7.5), so only the
    one-batch form admits an exact batch oracle.
    """
    from ..functions.hierarchy import supertype_closure_df
    from ..plans.synchronize_plan import apply_batch, synchronize_batch
    from ..schemas import DQ_SCORE_FIELDS, ENTITY, RELATIONSHIP_ATTRIBUTES
    from ..sources import load_table

    events = load_table(spark, sf_dir, "events")
    empty = F.array().cast("array<string>")
    null_s = F.lit(None).cast("string")

    def doc_cols(guid, typename, name, parentguid=None, bcg=None, bcn=None,
                 bct=None, lead=None):
        return [
            guid.alias("id"),
            guid.alias("guid"),
            F.concat(F.lit("qn://"), guid).alias("referenceablequalifiedname"),
            typename.alias("typename"),
            F.lit("Business").alias("sourcetype"),
            F.array(typename).alias("m4isourcetype"),
            F.array(F.lit("Referenceable"), typename).alias("supertypenames"),
            name.alias("name"),
            null_s.alias("definition"),
            null_s.alias("email"),
            (parentguid if parentguid is not None else null_s).alias("parentguid"),
            (bcg if bcg is not None else empty).alias("breadcrumbguid"),
            (bcn if bcn is not None else empty).alias("breadcrumbname"),
            (bct if bct is not None else empty).alias("breadcrumbtype"),
            null_s.alias("deriveddataownerguid"),
            null_s.alias("deriveddatastewardguid"),
            (lead if lead is not None else null_s).alias("deriveddomainleadguid"),
            empty.alias("derivedpersonguid"),
            empty.alias("derivedentityguids"),
            empty.alias("derivedentitynames"),
            F.lit(None).cast("array<string>").alias("derivedfieldguid"),
            null_s.alias("derivedfield"),
            F.lit(None).cast("array<string>").alias("deriveddataattributeguid"),
            null_s.alias("deriveddataattribute"),
            *[F.lit(None).cast("double").alias(c) for c in DQ_SCORE_FIELDS],
        ]

    users = events.select("user_id").distinct()
    i_col = F.col("user_id") % 10
    dguid = F.concat(F.lit("D"), i_col)
    eguid = F.concat(F.lit("E"), F.col("user_id"))
    dname = F.concat(F.lit("Domain"), i_col)
    uname = F.concat(F.lit("User"), F.col("user_id"))
    lead = F.concat(F.lit("L"), i_col)
    t_dom, t_ent = F.lit("m4i_data_domain"), F.lit("m4i_data_entity")

    root = spark.range(1).select(
        *doc_cols(F.lit("R0"), t_dom, F.lit("Root"), lead=F.lit("LROOT"))
    )
    domains = spark.range(10).select(
        *doc_cols(
            F.concat(F.lit("D"), F.col("id")), t_dom,
            F.concat(F.lit("Domain"), F.col("id")),
            lead=F.concat(F.lit("L"), F.col("id")),
        )
    )
    entities = users.select(
        *doc_cols(eguid, t_ent, uname, parentguid=dguid,
                  bcg=F.array(dguid), bcn=F.array(dname),
                  bct=F.array(t_dom), lead=lead)
    )
    children = users.select(
        *doc_cols(F.concat(F.lit("C"), F.col("user_id")),
                  F.lit("m4i_data_attribute"),
                  F.concat(F.lit("Child"), F.col("user_id")),
                  parentguid=eguid,
                  bcg=F.array(dguid, eguid), bcn=F.array(dname, uname),
                  bct=F.array(t_dom, t_ent), lead=lead)
    )
    docs = root.unionByName(domains).unionByName(entities).unionByName(children)

    def rel_ref(target_guid, target_type):
        return F.struct(
            target_guid.alias("guid"),
            F.lit(target_type).alias("type_name"),
            F.lit("ACTIVE").alias("entity_status"),
            null_s.alias("display_text"),
            F.lit("parent").alias("relationship_type"),
            null_s.alias("relationship_guid"),
            F.lit("ACTIVE").alias("relationship_status"),
            F.lit(None).cast("map<string,string>").alias("relationship_attributes"),
            F.lit(None).cast("map<string,string>").alias("unique_attributes"),
        )

    null_rels = F.lit(None).cast(RELATIONSHIP_ATTRIBUTES)
    null_entity = F.lit(None).cast(ENTITY)

    def msg_cols(guid, type_name, inserted, deleted):
        return [
            type_name.alias("type_name"),
            F.concat(F.lit("qn://"), guid).alias("qualified_name"),
            guid.alias("guid"),
            F.lit("EntityRelationshipAudit").alias("original_event_type"),
            F.lit("EntityRelationshipAudit").alias("event_type"),
            F.lit(True).alias("direct_change"),
            empty.alias("inserted_attributes"),
            empty.alias("changed_attributes"),
            empty.alias("deleted_attributes"),
            inserted.alias("inserted_relationships"),
            null_rels.alias("changed_relationships"),
            deleted.alias("deleted_relationships"),
            null_entity.alias("old_value"),
            null_entity.alias("new_value"),
        ]

    odd_domains = (
        events.groupBy(i_col.alias("i"))
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") % 2 == 1)
    )
    link_msgs = odd_domains.select(
        *msg_cols(
            F.concat(F.lit("D"), F.col("i")),
            t_dom,
            F.create_map(
                F.lit("parentDomain"),
                F.array(rel_ref(F.lit("R0"), "m4i_data_domain")),
            ),
            null_rels,
        )
    )
    purchase_last = (
        events.groupBy("user_id")
        .agg(
            F.max_by(
                "event_type", F.struct(F.unix_millis("ts"), F.col("event_id"))
            ).alias("last_type")
        )
        .filter(F.col("last_type") == "purchase")
    )
    del_msgs = purchase_last.select(
        *msg_cols(
            eguid,
            t_ent,
            null_rels,
            F.create_map(
                F.lit("parentDomain"),
                F.array(rel_ref(dguid, "m4i_data_domain")),
            ),
        )
    )

    # synchronize_batch references ``docs`` ~20x (every branch joins or
    # anti-joins the snapshot) and the message relation ~6x; both are
    # unions of expression-heavy subtrees over ``events``, so inlining
    # them multiplied the physical plan to 57,869 lines (r10 dump) —
    # pure driver-side planning cost at scale (guide §3.3 "very wide
    # unions produce enormous plans; materialise an intermediate").
    # materialize() (config-gated localCheckpoint) computes each ONCE
    # per invocation — eager, inside the timed region, recomputed every
    # run — and every branch plans against a flat scan.
    from ..operators.materialize import materialize

    docs = materialize(docs)
    msgs = materialize(link_msgs.unionByName(del_msgs))
    upserts, deletes = synchronize_batch(
        msgs, docs, supertype_closure_df(spark)
    )
    # ``apply_batch`` reads upserts twice (key set + rows) and deletes
    # once more beside the dispatcher's own in-batch anti-join —
    # materialize the batch-sized outputs so the 12-branch union + D9
    # collapse executes once, not per consumer.
    upserts = materialize(upserts)
    deletes = materialize(deletes)
    return apply_batch(docs, upserts, deletes).select(
        "guid",
        "typename",
        "name",
        "parentguid",
        F.array_join("breadcrumbguid", "|").alias("breadcrumbguid"),
        F.array_join("breadcrumbname", "|").alias("breadcrumbname"),
        F.array_join("breadcrumbtype", "|").alias("breadcrumbtype"),
        "deriveddomainleadguid",
    ).orderBy("guid")


SYNCHRONIZE_REL_CASCADES_SQL = """
WITH users AS (SELECT DISTINCT user_id AS u FROM events),
odd AS (
    SELECT user_id % 10 AS i FROM events
    GROUP BY 1 HAVING count(*) % 2 = 1
),
lastev AS (
    SELECT user_id AS u, event_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
    FROM events
),
purch AS (SELECT u FROM lastev WHERE rn = 1 AND event_type = 'purchase'),
root_doc AS (
    SELECT 'R0' AS guid, 'm4i_data_domain' AS typename, 'Root' AS name,
           CAST(NULL AS VARCHAR) AS parentguid,
           '' AS breadcrumbguid, '' AS breadcrumbname, '' AS breadcrumbtype,
           'LROOT' AS deriveddomainleadguid
),
domain_docs AS (
    SELECT 'D' || t.i AS guid, 'm4i_data_domain' AS typename,
           'Domain' || t.i AS name,
           CASE WHEN o.i IS NOT NULL THEN 'R0' END AS parentguid,
           CASE WHEN o.i IS NOT NULL THEN 'R0' ELSE '' END AS breadcrumbguid,
           CASE WHEN o.i IS NOT NULL THEN 'Root' ELSE '' END AS breadcrumbname,
           CASE WHEN o.i IS NOT NULL THEN 'm4i_data_domain' ELSE '' END
               AS breadcrumbtype,
           CASE WHEN o.i IS NOT NULL THEN 'LROOT' ELSE 'L' || t.i END
               AS deriveddomainleadguid
    FROM range(10) t(i) LEFT JOIN odd o ON o.i = t.i
),
entity_docs AS (
    SELECT 'E' || users.u AS guid, 'm4i_data_entity' AS typename,
           'User' || users.u AS name,
           CASE WHEN p.u IS NOT NULL THEN NULL
                ELSE 'D' || (users.u % 10) END AS parentguid,
           CASE WHEN p.u IS NOT NULL THEN ''
                WHEN o.i IS NOT NULL THEN 'R0|D' || (users.u % 10)
                ELSE 'D' || (users.u % 10) END AS breadcrumbguid,
           CASE WHEN p.u IS NOT NULL THEN ''
                WHEN o.i IS NOT NULL THEN 'Root|Domain' || (users.u % 10)
                ELSE 'Domain' || (users.u % 10) END AS breadcrumbname,
           CASE WHEN p.u IS NOT NULL THEN ''
                WHEN o.i IS NOT NULL THEN 'm4i_data_domain|m4i_data_domain'
                ELSE 'm4i_data_domain' END AS breadcrumbtype,
           CASE WHEN p.u IS NOT NULL THEN NULL
                WHEN o.i IS NOT NULL THEN 'LROOT'
                ELSE 'L' || (users.u % 10) END AS deriveddomainleadguid
    FROM users
    LEFT JOIN purch p ON p.u = users.u
    LEFT JOIN odd o ON o.i = users.u % 10
),
child_docs AS (
    SELECT 'C' || users.u AS guid, 'm4i_data_attribute' AS typename,
           'Child' || users.u AS name,
           'E' || users.u AS parentguid,
           CASE WHEN p.u IS NOT NULL THEN 'E' || users.u
                WHEN o.i IS NOT NULL THEN 'R0|D' || (users.u % 10) || '|E' || users.u
                ELSE 'D' || (users.u % 10) || '|E' || users.u END AS breadcrumbguid,
           CASE WHEN p.u IS NOT NULL THEN 'User' || users.u
                WHEN o.i IS NOT NULL
                     THEN 'Root|Domain' || (users.u % 10) || '|User' || users.u
                ELSE 'Domain' || (users.u % 10) || '|User' || users.u END AS breadcrumbname,
           CASE WHEN p.u IS NOT NULL THEN 'm4i_data_entity'
                WHEN o.i IS NOT NULL
                     THEN 'm4i_data_domain|m4i_data_domain|m4i_data_entity'
                ELSE 'm4i_data_domain|m4i_data_entity' END AS breadcrumbtype,
           CASE WHEN p.u IS NOT NULL THEN NULL
                WHEN o.i IS NOT NULL THEN 'LROOT'
                ELSE 'L' || (users.u % 10) END AS deriveddomainleadguid
    FROM users
    LEFT JOIN purch p ON p.u = users.u
    LEFT JOIN odd o ON o.i = users.u % 10
)
SELECT * FROM root_doc
UNION ALL SELECT * FROM domain_docs
UNION ALL SELECT * FROM entity_docs
UNION ALL SELECT * FROM child_docs
ORDER BY guid
"""


def stream_trend_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental OLS (streaming/regression_state.py): the
    (nation, month) cents cells are ADDITIVE integer state — exact for
    any batch split — and the slope readout runs the identical integer-
    moment arithmetic as a one-shot batch OLS, so a per-row-cents batch
    SQL oracles the stream bit-for-bit."""
    from ..streaming.regression_state import run_stream_trend_slopes

    return run_stream_trend_slopes(
        spark, sf_dir, _workdir("trend_slopes")
    )


STREAM_TREND_SQL = """
WITH monthly AS (
    SELECT c.c_nationkey,
           (year(o.o_orderdate) - 1970) * 12 + month(o.o_orderdate) - 1 AS x,
           sum(round(o.o_totalprice * 100)::BIGINT)::BIGINT AS y_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
),
moments AS (
    SELECT c_nationkey,
           count(*)::BIGINT AS n_months,
           sum(x)::BIGINT AS sx,
           sum(y_cents)::BIGINT AS sy,
           sum(x * y_cents)::BIGINT AS sxy,
           sum(x * x)::BIGINT AS sxx
    FROM monthly GROUP BY c_nationkey
)
SELECT n.n_name,
       m.n_months,
       round((m.n_months * m.sxy - m.sx * m.sy)::DOUBLE
             / (m.n_months * m.sxx - m.sx * m.sx) / 100.0, 6) AS slope_per_month,
       round(m.sy::DOUBLE / m.n_months / 100.0, 4) AS avg_monthly_revenue
FROM moments m JOIN nation n ON m.c_nationkey = n.n_nationkey
ORDER BY n.n_name
"""


def stream_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming skyline maintenance (streaming/pareto_state.py):
    skyline(A ∪ B) == skyline(skyline(A) ∪ B), so the maintained
    frontier equals the batch skyline for any batch split and the
    batch pareto_frontier_parts SQL oracles the stream."""
    from ..streaming.pareto_state import run_stream_pareto_frontier

    return run_stream_pareto_frontier(
        spark, sf_dir, _workdir("pareto_frontier")
    )


def _stream_pareto_sql() -> str:
    from .warehouse import PARETO_SQL

    return PARETO_SQL


def stream_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EXACT median (streaming/median_state.py): an additive
    integer value-histogram keyed by cents value — domain-bounded state
    exact for any batch split — rank-indexed at readout with the same
    integer (n+1)//2 lower-median rule as the batch two-pass selection,
    whose oracle therefore oracles the stream."""
    from ..streaming.median_state import run_stream_exact_median

    return run_stream_exact_median(
        spark, sf_dir, _workdir("exact_median")
    )


def _stream_exact_median_sql() -> str:
    from .sketches import EXACT_MEDIAN_SQL

    return EXACT_MEDIAN_SQL


def stream_zone_map_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming zone-map / file-inventory maintenance
    (streaming/zone_state.py): sum/min/max are associative folds, so
    the keyed (part_key, file_id) state equals the batch inventory for
    any batch split; the readout attaches the batch report's
    band-predicate pruning verdict, so the batch derivation oracles
    the stream."""
    from ..streaming.zone_state import run_stream_zone_map_state

    return run_stream_zone_map_state(
        spark, sf_dir, _workdir("zone_map_state")
    )


def stream_selfjoin_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming F2 join-size estimation (streaming/f2_state.py): the
    per-(event_type, user) counts the estimator reads are an addition
    monoid maintained as keyed state, so the shared sketch readout
    equals the batch selfjoin_size_estimate for any batch split —
    whose oracle therefore oracles the stream."""
    from ..streaming.f2_state import run_stream_selfjoin_size

    return run_stream_selfjoin_size(
        spark, sf_dir, _workdir("selfjoin_size")
    )


def _stream_selfjoin_sql() -> str:
    from .sketches import SELFJOIN_SIZE_SQL

    return SELFJOIN_SIZE_SQL


def stream_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintenance loop closed end to end: the compaction plan is
    computed from the STREAM-MAINTAINED file inventory (zone-map keyed
    state), never from a rescan of the data — the nightly-compaction
    read a lakehouse actually performs. The inventory state equals the
    batch inventory by the fold monoids (pinned in
    tests/test_zone_state.py), so the batch compaction SQL oracles the
    whole loop."""
    from ..queries.warehouse import compaction_plan_from_inventory
    from ..streaming.zone_state import run_stream_zone_map_state

    inventory = run_stream_zone_map_state(
        spark, sf_dir, _workdir("compaction_inventory")
    ).select("part_key", "file_id", "size_bytes")
    return compaction_plan_from_inventory(inventory)


def _stream_compaction_sql() -> str:
    from .warehouse import COMPACTION_PLAN_SQL

    return COMPACTION_PLAN_SQL


def stream_numeric_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming correlation-matrix maintenance
    (streaming/moments_state.py): the exact moment vector is one
    addition-monoid row of state, so the shared Pearson readout equals
    the batch numeric_correlation_matrix for any batch split — whose
    oracle therefore oracles the stream. The online-feature-statistics
    state shape: O(1) rows regardless of stream length."""
    from ..streaming.moments_state import run_stream_numeric_profile

    return run_stream_numeric_profile(
        spark, sf_dir, _workdir("numeric_profile")
    )


def _stream_numeric_profile_sql() -> str:
    from .profiling import ORACLES as PROFILING_ORACLES

    return PROFILING_ORACLES["numeric_correlation_matrix"]


def stream_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming crawl ingest (streaming/warc_ingest.py): each
    micro-batch walks its .warc.gz archives' gzip members and APPENDS
    the per-response rows to the corpus store (insert-only — O(batch)
    regardless of store size); the final store equals the batch
    extraction for any batch split, so the batch oracle oracles the
    stream."""
    from ..streaming.warc_ingest import run_stream_warc_ingest

    return run_stream_warc_ingest(spark, sf_dir, _workdir("warc_ingest"))


def _stream_warc_sql() -> str:
    from .llm_corpus import WARC_EXTRACTION_SQL

    return WARC_EXTRACTION_SQL


def stream_warc_text_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WARC→WET→quality-gate capstone run as a stream
    (streaming/warc_ingest.py run_stream_warc_text): per-batch member
    walk + the batch capstone's shared gate expressions, insert-only
    appends on unique (doc_id, rec_index) keys — so the final store
    equals batch warc_text_pipeline for any batch split and its
    closed-form oracle oracles the stream."""
    from ..streaming.warc_ingest import run_stream_warc_text

    return run_stream_warc_text(spark, sf_dir, _workdir("warc_text"))


def _stream_warc_text_sql() -> str:
    from .llm_corpus import WARC_TEXT_PIPELINE_SQL

    return WARC_TEXT_PIPELINE_SQL


def stream_warc_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl ingest with a dead-letter side channel on the binary path
    (streaming/warc_ingest.py run_stream_warc_quarantine): healthy
    archives and poisoned archives land in separate insert-only stores
    per micro-batch; the union equals the batch warc_ingest_quarantine
    for any split, so the batch oracle oracles the stream."""
    from ..streaming.warc_ingest import run_stream_warc_quarantine

    return run_stream_warc_quarantine(
        spark, sf_dir, _workdir("warc_quarantine")
    )


def _stream_warc_quarantine_sql() -> str:
    from .llm_corpus import WARC_QUARANTINE_SQL

    return WARC_QUARANTINE_SQL


def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization (streaming/session_state.py): each
    micro-batch is sessionized independently and merged into per-user
    interval state by gap-closure — the transitive closure of the
    "within gap" relation, so it is associative/commutative and the
    final state EQUALS the batch gaps-and-islands sessionizer for any
    batch split, restart, or replay order. The batch query's SQL
    therefore oracles the stream."""
    from ..streaming.session_state import run_stream_sessions

    return run_stream_sessions(spark, sf_dir, _workdir("session_state"))


def _stream_session_sql() -> str:
    from .streaming_like import SESSION_SQL

    return SESSION_SQL


def stream_ann_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN index maintenance + probe (streaming/ann_index.py):
    the LSH-bucketed index is built incrementally from the embedding
    stream (bucket assignment map-side, vec_id-idempotent merges), then
    probed by reading ONLY the store buckets holding the query's bucket
    — no corpus scan. The index materializes the exact bucket function
    the batch path computes, so the probe equals the batch
    ``ann_lsh_bucketed`` top-k and shares its oracle. The ``head()``
    below is a bounded 1-row fetch of the query vector — in a vector-
    search API the vector arrives WITH the request; reading it from the
    corpus here only stands in for that request payload."""
    from ..sources import load_table
    from ..streaming.ann_index import probe_topk, run_stream_ann_index
    from .llm_similarity import _GATE_LSH_BITS, _QUERY_VEC_ID, _TOPK

    store = run_stream_ann_index(
        spark, sf_dir, _workdir("ann_index"), bits=_GATE_LSH_BITS
    )
    q = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == _QUERY_VEC_ID)
        .select("embedding")
        .head()
    )
    return probe_topk(
        spark,
        store,
        _QUERY_VEC_ID,
        list(q.embedding),
        k=_TOPK,
        bits=_GATE_LSH_BITS,
    )


def _stream_ann_index_sql() -> str:
    from .llm_similarity import ANN_LSH_SQL

    return ANN_LSH_SQL


def stream_pq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PQ code-index maintenance (streaming/pq_index.py):
    codebook trained offline once (the FAISS train/add split), each
    micro-batch encoded map-side against the broadcast frozen codebook
    and appended insert-only — so the final index equals the batch
    ``pq_encode`` for any batch split and shares its oracle."""
    from ..streaming.pq_index import run_stream_pq_index

    return run_stream_pq_index(spark, sf_dir, _workdir("pq_index"))


def _stream_pq_index_sql() -> str:
    from .llm_similarity import ORACLES as SIM_ORACLES

    return SIM_ORACLES["pq_encode"]


def stream_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k served FROM the stream-maintained PQ index: codes read
    back from the index store, ranked with the shared `_adc_rank`
    readout against the frozen codebook — the query path a compressed
    vector index exists for. Codes equal the batch encode (pinned), so
    the batch ``pq_adc_topk`` oracle oracles the probe."""
    from ..sources import load_table
    from ..streaming.pq_index import run_stream_pq_index_store, unpivot_codes
    from .llm_similarity import (
        _QUERY_VEC_ID,
        _TOPK,
        _adc_rank,
        _pq_subvectors,
    )

    store, codebook = run_stream_pq_index_store(
        spark, sf_dir, _workdir("pq_probe")
    )
    state = store.require_current()
    emb = load_table(spark, sf_dir, "embeddings")
    q_subs = _pq_subvectors(emb.filter(F.col("vec_id") == _QUERY_VEC_ID))
    return _adc_rank(
        unpivot_codes(state), codebook, q_subs, _QUERY_VEC_ID, _TOPK
    )


def _stream_pq_adc_sql() -> str:
    from .llm_similarity import ORACLES as SIM_ORACLES

    return SIM_ORACLES["pq_adc_topk"]


def stream_ivfpq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ served from a stream-maintained, CELL-BUCKETED index
    (streaming/ivfpq_index.py): offline-frozen coarse centroids +
    residual codebook, per-batch map-side encode merged by cell, and a
    probe that reads ONLY the probed cells' store buckets — "probe
    touches nprobe/k of the corpus" made literal in storage reads. The
    artifacts equal the batch model, so the batch ``ivfpq_adc_topk``
    oracle oracles the probe."""
    from ..sources import load_table
    from ..streaming.ivfpq_index import (
        ivfpq_probe_topk,
        run_stream_ivfpq_index,
    )
    from .llm_similarity import _QUERY_VEC_ID

    store, coarse, final = run_stream_ivfpq_index(
        spark, sf_dir, _workdir("ivfpq_index")
    )
    q_emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == _QUERY_VEC_ID)
        .select(F.col("embedding").alias("q_emb"))
    )
    return ivfpq_probe_topk(spark, store, coarse, final, q_emb)


def _stream_ivfpq_sql() -> str:
    from .llm_similarity import ORACLES as SIM_ORACLES

    return SIM_ORACLES["ivfpq_adc_topk"]


def stream_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus-health monitor (streaming/zipf_state.py):
    exact (token -> count) keyed state — a plain integer addition
    monoid, vocabulary-sized by Heaps' law — with the batch Zipf
    rank+OLS readout run on the final state, so the batch oracle
    oracles the stream."""
    from ..streaming.zipf_state import run_stream_zipf_fit

    return run_stream_zipf_fit(spark, sf_dir, _workdir("zipf_fit"))


def _stream_zipf_sql() -> str:
    from .llm_text import ZIPF_FIT_SQL

    return ZIPF_FIT_SQL


def stream_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PCA maintenance (streaming/pca_state.py): embedding
    micro-batches fold into exact fixed-point moment state — a
    DECIMAL addition monoid, bit-identical for any batch split — and
    the readout rescales to the rounded covariance and runs the batch
    query's deterministic power iteration. The oracle replays the
    2^-20 quantization + moments in SQL and reuses the shared eigen
    recursion tail, so the whole stream is hash-matched end to end."""
    from ..streaming.pca_state import run_stream_embedding_pca

    return run_stream_embedding_pca(
        spark, sf_dir, _workdir("embedding_pca")
    )


def _stream_embedding_pca_sql() -> str:
    from .llm_similarity import _pca_eigen_sql_tail

    d = 64
    q = "list_transform(embedding, x -> round(x::DOUBLE * 1048576.0)::BIGINT)"
    return f"""
WITH RECURSIVE qv AS MATERIALIZED (
    SELECT {q} AS q FROM embeddings
),
moments AS MATERIALIZED (
    SELECT ii.i AS i, jj.j AS j, sum(qv.q[ii.i] * qv.q[jj.j]) AS s
    FROM qv, range(1, {d + 1}) AS ii(i), range(1, {d + 1}) AS jj(j)
    GROUP BY ii.i, jj.j
),
mu AS MATERIALIZED (
    SELECT ii.i AS i,
           sum(qv.q[ii.i])::DOUBLE / (count(*) * 1048576.0) AS m
    FROM qv, range(1, {d + 1}) AS ii(i)
    GROUP BY ii.i
),
nrow AS (SELECT count(*)::DOUBLE AS n FROM qv),
cov AS MATERIALIZED (
    SELECT mo.i, mo.j,
           round(mo.s::DOUBLE / (nrow.n * 1099511627776.0)
                 - ma.m * mb.m, 6) AS c
    FROM moments mo, nrow, mu ma, mu mb
    WHERE ma.i = mo.i AND mb.i = mo.j
),
{_pca_eigen_sql_tail()}
"""


def _stream_zone_map_sql() -> str:
    from .warehouse import _FILE_ROW_BYTES, _ZONE_HI, _ZONE_LO

    return f"""
WITH files AS (
    SELECT strftime(l_shipdate, '%Y-%m') AS part_key,
           l_suppkey % 8 AS file_id,
           CAST({_FILE_ROW_BYTES} * COUNT(*) AS BIGINT) AS size_bytes,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price
    FROM lineitem
    GROUP BY 1, 2
)
SELECT part_key, file_id, size_bytes, min_price, max_price,
       (max_price < {_ZONE_LO} OR min_price > {_ZONE_HI}) AS prunable
FROM files
ORDER BY part_key, file_id
"""


def stream_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HDR-histogram quantile sketch
    (streaming/hdr_state.py): per-bucket (count, min-member) keyed
    state — an addition/min monoid pair, bounded by 90 rows per value
    decade — with the batch midpoint-quantile readout on the final
    state. The oracle restates the bucket walk over the raw table, so
    the stream is hash-matched end to end."""
    from ..streaming.hdr_state import run_stream_hdr_quantiles

    return run_stream_hdr_quantiles(spark, sf_dir, _workdir("hdr"))


def stream_mmr_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full served retrieval stack on the STREAMED index: the LSH
    index is maintained from the embedding stream
    (streaming/ann_index.py), the probe reads only the query's bucket
    (top-N candidates, no corpus scan), and the MMR rerank
    (llm_similarity.mmr_rerank) diversifies the final top-k — exactly
    the ANN-then-rerank pipeline a production vector-search service
    runs. Oracle: the batch LSH-bucket candidate CTE feeding the same
    recursive greedy the batch MMR oracle uses."""
    from ..sources import load_table
    from ..streaming.ann_index import probe_topk, run_stream_ann_index
    from .llm_similarity import (
        _GATE_LSH_BITS,
        _MMR_N,
        _QUERY_VEC_ID,
        mmr_rerank,
    )

    store = run_stream_ann_index(
        spark, sf_dir, _workdir("mmr_index"), bits=_GATE_LSH_BITS
    )
    emb = load_table(spark, sf_dir, "embeddings")
    q = (
        emb.filter(F.col("vec_id") == _QUERY_VEC_ID)
        .select("embedding")
        .head()
    )
    cand = probe_topk(
        spark,
        store,
        _QUERY_VEC_ID,
        q["embedding"],
        k=_MMR_N,
        bits=_GATE_LSH_BITS,
    )
    return mmr_rerank(spark, emb, cand)


def _stream_mmr_sql() -> str:
    from .llm_similarity import (
        _BUCKET_SQL,
        _MMR_K,
        _MMR_LAMBDA,
        _MMR_N,
        _QUERY_VEC_ID,
        _cosine_sql,
    )

    lam = _MMR_LAMBDA
    return f"""
WITH RECURSIVE b AS (
    SELECT vec_id, embedding,
           {_BUCKET_SQL.format(e='embedding')} AS bucket
    FROM embeddings
), q AS (
    SELECT embedding AS query_emb, bucket AS query_bucket
    FROM b WHERE vec_id = {_QUERY_VEC_ID}
), cand AS (
    SELECT vec_id, embedding,
           round({_cosine_sql('embedding', 'query_emb')}, 6) AS rel
    FROM b, q
    WHERE vec_id != {_QUERY_VEC_ID} AND bucket = query_bucket
    ORDER BY rel DESC, vec_id
    LIMIT {_MMR_N}
), pair AS (
    SELECT l.vec_id AS a, r.vec_id AS b,
           round({_cosine_sql('l.embedding', 'r.embedding')}, 6) AS sim
    FROM cand l, cand r
    WHERE l.vec_id != r.vec_id
), steps(it, picks, pick, rel, score) AS (
    SELECT 0, []::BIGINT[], NULL::BIGINT, NULL::DOUBLE, NULL::DOUBLE
    UNION ALL
    SELECT s.it + 1,
           list_append(s.picks, w.vec_id),
           w.vec_id, w.rel, w.score
    FROM steps s, LATERAL (
        SELECT c.vec_id, c.rel,
               {lam} * c.rel - (1.0 - {lam}) * coalesce(
                   (SELECT max(p.sim) FROM pair p
                    WHERE p.a = c.vec_id
                      AND list_contains(s.picks, p.b)), 0.0) AS score
        FROM cand c
        WHERE NOT list_contains(s.picks, c.vec_id)
        ORDER BY score DESC, c.vec_id
        LIMIT 1
    ) w
    WHERE s.it < {_MMR_K}
)
SELECT it::INT AS mmr_rank, pick AS vec_id, rel AS rel_sim,
       round(score, 7) AS mmr_score
FROM steps
WHERE pick IS NOT NULL
ORDER BY mmr_rank
"""


def _stream_hdr_sql() -> str:
    from .sketches import _HDR_QS

    bucket = (
        "CASE WHEN c < 10 THEN c - 10 "
        "ELSE (length(c::VARCHAR) - 1) * 90 "
        "   + (c // power(10, length(c::VARCHAR) - 2)::BIGINT) - 10 END"
    )
    mid = (
        "CASE WHEN c < 10 THEN c::DOUBLE ELSE "
        "((c // power(10, length(c::VARCHAR) - 2)::BIGINT)::DOUBLE + 0.5) "
        "* power(10, length(c::VARCHAR) - 2) END / 100.0"
    )
    qs_union = " UNION ALL ".join(f"SELECT {q} AS q" for q in _HDR_QS)
    return f"""
WITH vals AS (
    SELECT round(l_extendedprice * 100)::BIGINT AS c FROM lineitem
), sketch AS (
    SELECT {bucket} AS bucket, count(*) AS cnt, min(c) AS c_min
    FROM vals GROUP BY 1
), cum AS (
    SELECT bucket,
           sum(cnt) OVER (ORDER BY bucket) AS cum,
           (SELECT {mid} FROM (SELECT c_min AS c) t) AS est
    FROM sketch
), total AS (SELECT count(*) AS n FROM vals),
qs AS ({qs_union})
SELECT q,
       round((SELECT est FROM cum
              WHERE cum >= ceil(q * total.n) ORDER BY bucket LIMIT 1), 4)
           AS est,
       total.n AS n
FROM qs, total
ORDER BY q
"""


def stream_vacuum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vacuum/retention plan over the LIVE BucketedParquetUpsertStore
    version log (streaming/vacuum_state.py): one upsert merge per order
    year, then the plan is read from the store's real committed
    snapshots via time travel, the real ``vacuum()`` runs, and the rows
    record which snapshots actually survived. Last-writer-wins upsert
    makes every column a pure SQL restatement over ``orders``; money
    sums ride the exact integer-cents monoid."""
    from ..streaming.vacuum_state import run_stream_vacuum_plan

    return run_stream_vacuum_plan(spark, sf_dir, _workdir("vacuum_plan"))


def _stream_vacuum_sql() -> str:
    from .warehouse import _VACUUM_RETAIN

    return f"""
WITH ep AS (
    SELECT year(o_orderdate)
               - (SELECT min(year(o_orderdate)) FROM orders) AS epoch,
           o_custkey,
           count(*) AS n_orders,
           sum(round(o_totalprice * 100)::BIGINT) AS cents
    FROM orders GROUP BY 1, 2
), versions AS (
    SELECT DISTINCT epoch AS version FROM ep
), latest AS (
    SELECT v.version, e.o_custkey, e.n_orders, e.cents,
           row_number() OVER (PARTITION BY v.version, e.o_custkey
                              ORDER BY e.epoch DESC) AS rn
    FROM versions v JOIN ep e ON e.epoch <= v.version
), agg AS (
    SELECT version,
           count(*) AS n_keys,
           sum(n_orders)::BIGINT AS total_orders,
           sum(cents)::BIGINT AS total_cents
    FROM latest WHERE rn = 1 GROUP BY version
), m AS (SELECT max(version) AS mv FROM versions)
SELECT version::INT AS version,
       version::INT AS batch_id,
       n_keys, total_orders, total_cents,
       version <= mv - {_VACUUM_RETAIN} AS expired,
       version > mv - {_VACUUM_RETAIN} AS retained,
       mv::INT AS current_version
FROM agg, m
ORDER BY version
"""


def stream_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Markov removal-effect attribution
    (streaming/markov_state.py): the |states|^2 transition counts are
    an addition monoid maintained per batch, the per-user last touch is
    keyed CDC state seeding each batch's lag window, and the open-
    journey tail edges close at readout — so the maintained matrix
    equals the batch _markov_transitions for any time-ordered split and
    the batch integer-Jacobi oracle oracles the stream."""
    from ..streaming.markov_state import run_stream_markov_attribution

    return run_stream_markov_attribution(
        spark, sf_dir, _workdir("markov_attribution")
    )


def _stream_markov_sql() -> str:
    from .behavior import ORACLES as BEHAVIOR_ORACLES

    return BEHAVIOR_ORACLES["markov_attribution"]


def stream_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming t-closeness maintenance (streaming/privacy_state.py):
    the (QI class, sensitive value) cell counts are an addition monoid
    kept as keyed state, the global distribution re-derives from the
    cells at readout, and the shared exact-integer banding makes the
    batch T_CLOSENESS_SQL the stream's oracle for any batch split."""
    from ..streaming.privacy_state import run_stream_t_closeness

    return run_stream_t_closeness(spark, sf_dir, _workdir("t_closeness"))


def _stream_t_closeness_sql() -> str:
    from .profiling import T_CLOSENESS_SQL

    return T_CLOSENESS_SQL


def stream_sequential_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming always-valid A/B monitoring (streaming/ab_state.py):
    per-user (min first-day, max converted) keyed state — idempotent
    monoids, so the maintained relation equals the batch user reduction
    for any split — then the shared mSPRT readout; the batch oracle
    oracles the stream."""
    from ..streaming.ab_state import run_stream_sequential_ab

    return run_stream_sequential_ab(spark, sf_dir, _workdir("seq_ab"))


def _stream_seq_ab_sql() -> str:
    from .behavior import ORACLES as BEHAVIOR_ORACLES

    return BEHAVIOR_ORACLES["sequential_ab_msprt"]


def stream_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``gopher_quality_rules``: the Gopher word-level
    gate scored per micro-batch with the shared kernel and folded into
    a doc-keyed report store — exactly-once per document across
    restarts, O(batch) sink cost. The batch oracle oracles the stream
    (``streaming/text_gates.py``)."""
    from ..streaming.text_gates import run_stream_gopher_rules

    return run_stream_gopher_rules(
        spark, sf_dir, _workdir("gopher_stream")
    ).orderBy("doc_id")


def stream_intra_doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``intra_doc_span_dedup``: the C4 span-dedup
    report computed per micro-batch (all shuffles doc-keyed, so the
    per-batch fold IS the batch answer per document) and folded into a
    doc-keyed store (``streaming/text_gates.py``)."""
    from ..streaming.text_gates import run_stream_intra_doc_dedup

    return run_stream_intra_doc_dedup(
        spark, sf_dir, _workdir("span_dedup_stream")
    ).orderBy("doc_id")


def _stream_text_gate_sql(name: str) -> str:
    from .llm_text import ORACLES as TEXT_ORACLES

    return TEXT_ORACLES[name]


def stream_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``dp_noisy_histogram``: the (event_type,
    month) cells as additive keyed state, released through the shared
    keyed-noise readout — the batch oracle oracles the stream
    (``streaming/dp_state.py``)."""
    from ..streaming.dp_state import run_stream_dp_release

    return run_stream_dp_release(spark, sf_dir, _workdir("dp_release"))


def _stream_dp_sql() -> str:
    from .profiling import ORACLES as PROFILING_ORACLES

    return PROFILING_ORACLES["dp_noisy_histogram"]


def stream_conformal_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``conformal_keep_gate``: the two sufficient-
    statistic count relations (calibration nonconformity counts,
    held-out (score, label) counts — both addition monoids on a
    value-domain-bounded grid) maintained as keyed state, read out
    through the shared report — the batch oracle oracles the stream
    (``streaming/conformal_state.py``)."""
    from ..streaming.conformal_state import run_stream_conformal_gate

    return run_stream_conformal_gate(
        spark, sf_dir, _workdir("conformal_gate")
    )


def _stream_conformal_sql() -> str:
    from .quality_classifier import ORACLES as QC_ORACLES

    return QC_ORACLES["conformal_keep_gate"]


def stream_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``hybrid_rrf_retrieval``: the BM25 inverted
    index (doclen catalog + query-term postings) maintained as
    insert-only keyed state while documents stream in, scored by the
    shared ``bm25_from_index`` kernel and fused with the stream-static
    embedding arm by the shared RRF readout — the batch oracle oracles
    the stream (``streaming/bm25_index.py``)."""
    from ..streaming.bm25_index import run_stream_hybrid_rrf

    return run_stream_hybrid_rrf(spark, sf_dir, _workdir("hybrid_rrf"))


def _stream_hybrid_rrf_sql() -> str:
    from .hybrid_retrieval import ORACLES as HYBRID_ORACLES

    return HYBRID_ORACLES["hybrid_rrf_retrieval"]


def stream_fs_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Fellegi-Sunter linkage serving: new customer records
    probe a maintained block index (bucketed keyed state, the
    near-dedup/BM25-index layout) for candidates, the agreement vector
    is scored on arrival against bucket-pruned prior attributes, and
    the scored pairs accumulate in an insert-only keyed store; the
    readout is the shared ``fs_band_report`` kernel, so the batch
    oracle oracles the stream (``streaming/fs_linkage.py``)."""
    from ..streaming.fs_linkage import run_stream_fs_linkage

    return run_stream_fs_linkage(spark, sf_dir, _workdir("fs_linkage"))


def _stream_fs_linkage_sql() -> str:
    from .entity_resolution import ORACLES as ER_ORACLES

    return ER_ORACLES["fellegi_sunter_bands"]


def stream_fs_em_parameters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EM refresh over the maintained linkage store: the
    same three-store ingest as ``stream_fs_linkage``, read out through
    the shared 8-cell pattern histogram + fixed-iteration integer EM —
    the batch EM oracle oracles the stream
    (``streaming/fs_linkage.py``)."""
    from ..streaming.fs_linkage import run_stream_fs_em

    return run_stream_fs_em(spark, sf_dir, _workdir("fs_em"))


def _stream_fs_em_sql() -> str:
    from .entity_resolution import ORACLES as ER_ORACLES

    return ER_ORACLES["fs_em_parameters"]


def stream_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``entity_match_clusters``: verified lev<=1
    match pairs maintained incrementally over a block index keyed by
    the interleaved-halves scheme + nation/segment conjuncts, then
    clustered at readout by the shared ``cluster_report`` kernel —
    the batch oracle oracles the stream
    (``streaming/fs_linkage.py``)."""
    from ..streaming.fs_linkage import run_stream_entity_clusters

    return run_stream_entity_clusters(
        spark, sf_dir, _workdir("er_clusters")
    )


def _stream_entity_clusters_sql() -> str:
    from .entity_resolution import ORACLES as ER_ORACLES

    return ER_ORACLES["entity_match_clusters"]


def stream_chained_topology(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The four reference jobs chained as ONE topology
    (``streaming/chained.py``): get_entity's accepted-event set becomes
    the downstream 'topic' feeding publish_state, determine_change and
    synchronize — the reference's Kafka wiring
    (get_entity_job.py:86-126 → publish_state_job.py:107-141 /
    determine_change_job.py:457-464 → synchronize_elastic_job.py:167-175)
    reproduced end-to-end with real streaming machinery in every job.

    The readout is one row per terminal surface with its row count, an
    order-independent content checksum (sum of the shared cross-engine
    ``scrambled_hash`` over a canonical row string — exact BIGINT
    arithmetic on both engines, safe to ~9e9 rows) and a closure
    violation count:

    - ``enriched``: |accepted ∩ dead-letter| (job 1's channels must
      partition its input),
    - ``dead_get_entity``: op-type-accepted raw events in NEITHER
      channel (coverage gap),
    - ``entity_state`` / ``dead_publish_state`` / ``determined_changes``:
      rows whose event is OUTSIDE job 1's accepted set (downstream
      closure — a leak here means a job read past its topic),
    - ``docstore``: entity docs whose user never appeared in the feed.

    (Surface names above are the REPORT's ``surface`` column values;
    ``run_chained_pipeline`` returns them under dict keys ``enriched``
    / ``dead_get_entity`` / ``entity_state`` / ``dead_publish_state``
    / ``diffs`` / ``docs`` — ``determined_changes`` is the report name
    for the ``diffs`` key and ``docstore`` for the ``docs`` key.)

    The oracle recomputes all six surfaces from raw ``events`` ×
    ``customer`` in one SQL statement by wrapping each job's existing
    batch oracle around the accepted-feed CTE, so a hash match proves
    the chained composition converges to the batch answer of the
    composed relational program AND satisfies every closure invariant
    (the violation columns are identically zero relationally; the
    Spark side computes them from the materialized stores). The float
    ``value`` column is deliberately absent from the state checksum —
    the winning ``event_id`` pins row identity, and cross-engine float
    rendering has no place in a string hash (value equality is already
    attested by ``stream_publish_state``)."""
    from ..operators import text as T
    from ..sources import load_table
    from ..streaming.chained import run_chained_pipeline

    out = run_chained_pipeline(spark, sf_dir, _workdir("chained"))

    acc = out["enriched"].select("event_id", F.lit(1).alias("_acc"))
    dead1 = out["dead_get_entity"]

    def report(
        surface: str,
        df: DataFrame,
        tag: str,
        fields: list,
        violation: Column,
        *,
        present: Column | None = None,
        empty_checksum: int | None = None,
    ) -> DataFrame:
        """One report row over ``df``: the rows where ``present`` holds
        (all rows when None), the hash-sum of their ``tag``-prefixed
        ``fields`` (NULL over no rows unless ``empty_checksum`` is
        given, as in the oracle) and the rows where ``violation``
        holds."""
        row_hash = T.scrambled_hash(F.concat_ws("|", F.lit(tag), *fields))
        if present is None:
            n_rows = F.count(F.lit(1))
        else:
            n_rows = F.count(F.when(present, 1))
            row_hash = F.when(present, row_hash)
        checksum = F.sum(row_hash)
        if empty_checksum is not None:
            checksum = F.coalesce(checksum, F.lit(empty_checksum)).cast("long")
        return df.agg(
            n_rows.alias("n_rows"),
            checksum.alias("content_checksum"),
            F.count(F.when(violation, 1)).alias("n_violations"),
        ).select(F.lit(surface).alias("surface"), "*")

    def txt(col: str) -> Column:
        return F.col(col).cast("string")

    outside_feed = F.col("_acc").isNull()
    enriched = out["enriched"].join(
        dead1.select("event_id", F.lit(1).alias("_d")), "event_id", "left"
    )
    r_enriched = report(
        "enriched", enriched, "ge:",
        [txt("event_id"), txt("user_id"), "envelope"],
        F.col("_d").isNotNull(),
    )

    raw_op = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("signup", "purchase", "error"))
        .select("event_id")
        .join(acc, "event_id", "left")
        .join(
            dead1.select(
                "event_id", "job", "description", F.lit(1).alias("_dd")
            ),
            "event_id",
            "left",
        )
    )
    r_dead1 = report(
        "dead_get_entity", raw_op, "d1:",
        [txt("event_id"), "job", "description"],
        outside_feed & F.col("_dd").isNull(),
        present=F.col("_dd").isNotNull(),
        empty_checksum=0,
    )

    r_state = report(
        "entity_state", out["entity_state"].join(acc, "event_id", "left"),
        "ps:",
        ["doc_id", txt("guid"), txt("update_time_ms"), txt("event_id"),
         "event_type", "props"],
        outside_feed,
    )

    r_dead2 = report(
        "dead_publish_state",
        out["dead_publish_state"].join(acc, "event_id", "left"),
        "d2:",
        [txt("event_id"), txt("timestamp_ms"), "original_notification", "job",
         "description"],
        outside_feed,
        empty_checksum=0,
    )

    r_diffs = report(
        "determined_changes", out["diffs"].join(acc, "event_id", "left"),
        "dc:",
        [txt("event_id"), txt("user_id"), "change_kind", "inserted_attrs",
         "changed_attrs", "deleted_attrs", "added_rels", "deleted_rels"],
        outside_feed,
    )

    feed_users = (
        out["enriched"]
        .select("user_id")
        .distinct()
        .select(
            F.concat(F.lit("E"), F.col("user_id")).alias("_eguid"),
            F.lit(1).alias("_fu"),
        )
    )
    def joined(col: str) -> Column:
        return F.coalesce(F.array_join(col, "|"), F.lit(""))

    def blank(col: str) -> Column:
        return F.coalesce(col, F.lit(""))

    r_docs = report(
        "docstore",
        out["docs"].join(feed_users, F.col("guid") == F.col("_eguid"), "left"),
        "sy:",
        ["guid", "typename", "name", "referenceablequalifiedname",
         "sourcetype", joined("m4isourcetype"), joined("supertypenames"),
         blank("definition"), blank("email"), blank("parentguid"),
         joined("breadcrumbguid"), joined("breadcrumbname"),
         joined("breadcrumbtype"), blank("deriveddataownerguid"),
         blank("deriveddomainleadguid")],
        F.col("guid").startswith("E") & F.col("_fu").isNull(),
    )

    return (
        r_enriched.unionByName(r_dead1)
        .unionByName(r_state)
        .unionByName(r_dead2)
        .unionByName(r_diffs)
        .unionByName(r_docs)
        .orderBy("surface")
    )


def _chained_sql() -> str:
    """Compose the chained-topology oracle from the four jobs' existing
    batch oracles, each re-rooted on the accepted-feed CTE (string
    substitution with occurrence-count checks so drift in a base
    oracle fails loudly here, not as a silent hash mismatch)."""
    from .sketches import _scrambled_hash_sql

    def subst(sql: str, old: str, new: str, n: int) -> str:
        if sql.count(old) != n:
            raise RuntimeError(f"oracle drift: expected {n}x {old!r} in base SQL")
        return sql.replace(old, new)

    state_sql = subst(PUBLISH_STATE_SQL, "FROM events", "FROM feed", 1)
    dead2_sql = subst(DEAD_LETTER_BOX_SQL, "FROM events", "FROM feed", 1)
    diffs_sql = subst(
        DETERMINE_CHANGE_ENTITIES_SQL, "FROM events", "FROM feed", 1
    )
    docs_sql = subst(
        SYNCHRONIZE_APPSEARCH_SQL, "FROM events", "FROM feed", 1
    )
    # The chained synchronize job still seeds entity docs for EVERY raw
    # user with a payload (seed_entity_docs reads the table, not the
    # topic), while mutations arrive only for accepted events — so the
    # user universe stays raw, seeds survive when a user has no
    # accepted events (la_id IS NULL), and the branch-0 create shape
    # applies only when an accepted last event exists.
    docs_sql = subst(
        docs_sql,
        "FROM (SELECT DISTINCT user_id FROM ev) u",
        "FROM (SELECT DISTINCT user_id FROM events "
        "WHERE props IS NOT NULL) u",
        1,
    )
    docs_sql = subst(
        docs_sql,
        "WHERE branch <> 0 OR la_type <> 'error'",
        "WHERE branch <> 0 OR la_type IS NULL OR la_type <> 'error'",
        1,
    )
    docs_sql = subst(
        docs_sql,
        "CASE WHEN branch = 0 THEN 'U' || user_id || '~' || la_id",
        "CASE WHEN branch = 0 AND la_id IS NOT NULL "
        "THEN 'U' || user_id || '~' || la_id",
        1,
    )
    docs_sql = subst(
        docs_sql,
        "CASE WHEN branch = 0 OR (branch = 1 AND ne_id IS NOT NULL)",
        "CASE WHEN (branch = 0 AND la_id IS NOT NULL) "
        "OR (branch = 1 AND ne_id IS NOT NULL)",
        1,
    )
    docs_sql = subst(
        docs_sql,
        "CASE WHEN branch = 0 OR (branch = 2 AND ne_id IS NOT NULL)",
        "CASE WHEN (branch = 0 AND la_id IS NOT NULL) "
        "OR (branch = 2 AND ne_id IS NOT NULL)",
        5,
    )

    def h(expr: str) -> str:
        return _scrambled_hash_sql(expr)

    return f"""
WITH feed AS (
    SELECT e.*
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type IN ('signup', 'purchase', 'error')
), dead1 AS (
    SELECT e.event_id,
           'get_entity' AS job,
           'entity not found' AS description
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type IN ('signup', 'purchase', 'error')
      AND c.c_custkey IS NULL
), enriched AS (
    SELECT f.event_id, f.user_id,
           '{{"kafka_notification":{{"event_id":' || f.event_id
               || ',"user_id":' || f.user_id
               || ',"event_type":"' || f.event_type
               || '"}},"atlas_entity":{{"entity_name":"' || c.c_name
               || '","entity_nation":' || c.c_nationkey || '}}}}' AS envelope
    FROM feed f JOIN customer c ON f.user_id = c.c_custkey
), state AS (
{state_sql}
), dead2 AS (
{dead2_sql}
), diffs AS (
{diffs_sql}
), docs AS (
{docs_sql}
), r_enriched AS (
    SELECT 'enriched' AS surface,
           count(*)::BIGINT AS n_rows,
           sum({h("'ge:|' || event_id || '|' || user_id || '|' || envelope")}
               )::BIGINT AS content_checksum,
           sum(CASE WHEN d.event_id IS NOT NULL THEN 1 ELSE 0 END
               )::BIGINT AS n_violations
    FROM enriched LEFT JOIN dead1 d USING (event_id)
), r_dead1 AS (
    SELECT 'dead_get_entity' AS surface,
           count(d.event_id)::BIGINT AS n_rows,
           coalesce(sum(CASE WHEN d.event_id IS NOT NULL THEN
               {h("'d1:|' || d.event_id || '|' || d.job || '|' || d.description")}
               END), 0)::BIGINT AS content_checksum,
           sum(CASE WHEN f.event_id IS NULL AND d.event_id IS NULL
               THEN 1 ELSE 0 END)::BIGINT AS n_violations
    FROM (SELECT event_id FROM events
          WHERE event_type IN ('signup', 'purchase', 'error')) o
    LEFT JOIN dead1 d USING (event_id)
    LEFT JOIN (SELECT event_id FROM feed) f USING (event_id)
), r_state AS (
    SELECT 'entity_state' AS surface,
           count(*)::BIGINT AS n_rows,
           sum({h(
               "'ps:|' || doc_id || '|' || guid || '|' || update_time_ms"
               " || '|' || event_id || '|' || event_type || '|' || props"
           )})::BIGINT AS content_checksum,
           0::BIGINT AS n_violations
    FROM state
), r_dead2 AS (
    SELECT 'dead_publish_state' AS surface,
           count(*)::BIGINT AS n_rows,
           coalesce(sum({h(
               "'d2:|' || event_id || '|' || timestamp_ms || '|' ||"
               " original_notification || '|' || job || '|' || description"
           )}), 0)::BIGINT AS content_checksum,
           0::BIGINT AS n_violations
    FROM dead2
), r_diffs AS (
    SELECT 'determined_changes' AS surface,
           count(*)::BIGINT AS n_rows,
           sum({h(
               "'dc:|' || event_id || '|' || user_id || '|' || change_kind"
               " || '|' || inserted_attrs || '|' || changed_attrs || '|' ||"
               " deleted_attrs || '|' || added_rels || '|' || deleted_rels"
           )})::BIGINT AS content_checksum,
           0::BIGINT AS n_violations
    FROM diffs
), r_docs AS (
    SELECT 'docstore' AS surface,
           count(*)::BIGINT AS n_rows,
           sum({h(
               "'sy:|' || guid || '|' || typename || '|' || name || '|' ||"
               " referenceablequalifiedname || '|' || sourcetype || '|' ||"
               " m4isourcetype || '|' || supertypenames || '|' ||"
               " coalesce(definition, '') || '|' || coalesce(email, '')"
               " || '|' || coalesce(parentguid, '') || '|' || breadcrumbguid"
               " || '|' || breadcrumbname || '|' || breadcrumbtype || '|' ||"
               " coalesce(deriveddataownerguid, '') || '|' ||"
               " coalesce(deriveddomainleadguid, '')"
           )})::BIGINT AS content_checksum,
           0::BIGINT AS n_violations
    FROM docs
)
SELECT * FROM r_enriched
UNION ALL SELECT * FROM r_dead1
UNION ALL SELECT * FROM r_state
UNION ALL SELECT * FROM r_dead2
UNION ALL SELECT * FROM r_diffs
UNION ALL SELECT * FROM r_docs
ORDER BY surface
"""


QUERIES = {
    "synchronize_rel_cascades": synchronize_rel_cascades,
    "stream_chained_topology": stream_chained_topology,
    "stream_gopher_quality": stream_gopher_quality,
    "stream_intra_doc_dedup": stream_intra_doc_dedup,
    "stream_dp_release": stream_dp_release,
    "stream_conformal_gate": stream_conformal_gate,
    "stream_hybrid_rrf": stream_hybrid_rrf,
    "stream_fs_linkage": stream_fs_linkage,
    "stream_fs_em_parameters": stream_fs_em_parameters,
    "stream_entity_clusters": stream_entity_clusters,
    "stream_get_entity_enrichment": stream_get_entity_enrichment,
    "stream_publish_state": stream_publish_state,
    "stream_dead_letter_box": stream_dead_letter_box,
    "stream_determine_change": stream_determine_change,
    "stream_determine_change_entities": stream_determine_change_entities,
    "stream_synchronize_docstore": stream_synchronize_docstore,
    "stream_synchronize_appsearch_docs": stream_synchronize_appsearch_docs,
    "stream_windowed_aggregation": stream_windowed_aggregation,
    "stream_dedup_within_watermark": stream_dedup_within_watermark,
    "stream_interval_join": stream_interval_join,
    "stream_interval_join_left": stream_interval_join_left,
    "stream_corpus_ingest": stream_corpus_ingest,
    "stream_near_dedup": stream_near_dedup,
    "stream_semantic_dedup": stream_semantic_dedup,
    "stream_media_ingest": stream_media_ingest,
    "stream_distinct_sketch": stream_distinct_sketch,
    "stream_scd2_dimension": stream_scd2_dimension,
    "stream_windowed_distinct": stream_windowed_distinct,
    "stream_quantile_sample": stream_quantile_sample,
    "stream_duplicate_spans": stream_duplicate_spans,
    "stream_hll_distinct": stream_hll_distinct,
    "stream_countmin_freq": stream_countmin_freq,
    "stream_image_dedup": stream_image_dedup,
    "stream_audio_ingest": stream_audio_ingest,
    "stream_rate_anomalies": stream_rate_anomalies,
    "stream_weighted_sample": stream_weighted_sample,
    "stream_trend_slopes": stream_trend_slopes,
    "stream_pareto_frontier": stream_pareto_frontier,
    "stream_exact_median": stream_exact_median,
    "stream_zone_map_state": stream_zone_map_state,
    "stream_selfjoin_size": stream_selfjoin_size,
    "stream_compaction_plan": stream_compaction_plan,
    "stream_numeric_profile": stream_numeric_profile,
    "stream_embedding_pca": stream_embedding_pca,
    "stream_zipf_fit": stream_zipf_fit,
    "stream_warc_ingest": stream_warc_ingest,
    "stream_warc_text_pipeline": stream_warc_text_pipeline,
    "stream_warc_quarantine": stream_warc_quarantine,
    "stream_session_windows": stream_session_windows,
    "stream_ann_index_topk": stream_ann_index_topk,
    "stream_pq_index": stream_pq_index,
    "stream_pq_adc_topk": stream_pq_adc_topk,
    "stream_ivfpq_probe": stream_ivfpq_probe,
    "stream_hdr_quantiles": stream_hdr_quantiles,
    "stream_mmr_serving": stream_mmr_serving,
    "stream_vacuum_plan": stream_vacuum_plan,
    "stream_markov_attribution": stream_markov_attribution,
    "stream_t_closeness": stream_t_closeness,
    "stream_sequential_ab": stream_sequential_ab,
}

ORACLES = {
    "synchronize_rel_cascades": SYNCHRONIZE_REL_CASCADES_SQL,
    "stream_get_entity_enrichment": GET_ENTITY_SQL,
    "stream_publish_state": PUBLISH_STATE_SQL,
    "stream_dead_letter_box": DEAD_LETTER_BOX_SQL,
    "stream_determine_change": DETERMINE_CHANGE_SQL,
    "stream_determine_change_entities": DETERMINE_CHANGE_ENTITIES_SQL,
    "stream_synchronize_docstore": SYNCHRONIZE_SQL,
    "stream_synchronize_appsearch_docs": SYNCHRONIZE_APPSEARCH_SQL,
    "stream_windowed_aggregation": WINDOWED_SQL,
    "stream_dedup_within_watermark": STREAM_DEDUP_SQL,
    "stream_interval_join": INTERVAL_JOIN_SQL,
    "stream_interval_join_left": INTERVAL_JOIN_LEFT_SQL,
    "stream_corpus_ingest": _stream_corpus_ingest_sql(),
    "stream_near_dedup": _stream_near_dedup_sql(),
    "stream_semantic_dedup": _stream_semantic_dedup_sql(),
    "stream_media_ingest": _stream_media_ingest_sql(),
    "stream_distinct_sketch": _stream_distinct_sketch_sql(),
    "stream_scd2_dimension": _stream_scd2_sql(),
    "stream_windowed_distinct": _stream_windowed_distinct_sql(),
    "stream_quantile_sample": _stream_quantile_sample_sql(),
    "stream_duplicate_spans": _stream_duplicate_spans_sql(),
    "stream_hll_distinct": _stream_hll_sql(),
    "stream_countmin_freq": _stream_countmin_sql(),
    "stream_image_dedup": _stream_image_dedup_sql(),
    "stream_audio_ingest": _stream_audio_sql(),
    "stream_rate_anomalies": _stream_anomaly_sql(),
    "stream_weighted_sample": _stream_weighted_sample_sql(),
    "stream_trend_slopes": STREAM_TREND_SQL,
    "stream_pareto_frontier": _stream_pareto_sql(),
    "stream_exact_median": _stream_exact_median_sql(),
    "stream_zone_map_state": _stream_zone_map_sql(),
    "stream_selfjoin_size": _stream_selfjoin_sql(),
    "stream_compaction_plan": _stream_compaction_sql(),
    "stream_numeric_profile": _stream_numeric_profile_sql(),
    "stream_embedding_pca": _stream_embedding_pca_sql(),
    "stream_zipf_fit": _stream_zipf_sql(),
    "stream_warc_ingest": _stream_warc_sql(),
    "stream_warc_text_pipeline": _stream_warc_text_sql(),
    "stream_warc_quarantine": _stream_warc_quarantine_sql(),
    "stream_session_windows": _stream_session_sql(),
    "stream_ann_index_topk": _stream_ann_index_sql(),
    "stream_pq_index": _stream_pq_index_sql(),
    "stream_pq_adc_topk": _stream_pq_adc_sql(),
    "stream_ivfpq_probe": _stream_ivfpq_sql(),
    "stream_hdr_quantiles": _stream_hdr_sql(),
    "stream_mmr_serving": _stream_mmr_sql(),
    "stream_vacuum_plan": _stream_vacuum_sql(),
    "stream_markov_attribution": _stream_markov_sql(),
    "stream_t_closeness": _stream_t_closeness_sql(),
    "stream_sequential_ab": _stream_seq_ab_sql(),
    "stream_chained_topology": _chained_sql(),
    "stream_gopher_quality": _stream_text_gate_sql("gopher_quality_rules"),
    "stream_intra_doc_dedup": _stream_text_gate_sql("intra_doc_span_dedup"),
    "stream_dp_release": _stream_dp_sql(),
    "stream_conformal_gate": _stream_conformal_sql(),
    "stream_hybrid_rrf": _stream_hybrid_rrf_sql(),
    "stream_fs_linkage": _stream_fs_linkage_sql(),
    "stream_fs_em_parameters": _stream_fs_em_sql(),
    "stream_entity_clusters": _stream_entity_clusters_sql(),
}
