"""The query API surface — every query the reference can answer
(SURVEY.md section 2.11; reference KafkaSpanStore.java:64-127 and
KafkaStorageHttpService.java).

The reference serves these via HTTP scatter-gather across Kafka Streams
instances; in Spark the scatter-gather layer dissolves — each query is one
DataFrame plan over the spans table (or the materialized index tables), and
the driver/executor split IS the distribution (SURVEY section 3.3).

Every function returns a DataFrame.  Trace queries are lazy plans over the
spans relation: filters reach the scan via Catalyst pushdown (``get_trace``
compares the stored, already normalized ``trace_id`` to a literal, so the
equality reaches ``InMemoryTableScan``), limits compile to
TakeOrderedAndProject (top-k, no full sort), point lookups prune partitions
when the table is partitioned by the key's time bucket.

Name and autocomplete lookups read a driver-resident snapshot of the
reference's name/tag stores instead (in-memory stores built at ingest,
TraceStorageTopology.java:131-149): each store is aggregated once per spans
relation, sorted, and kept as an Arrow-backed ``LocalRelation`` shared by
every ``SpanStore`` over that relation.  A lookup is a filter/limit that
Catalyst folds into the relation, so its ``collect()`` runs no Spark job.
Like the reference's stores, the snapshot holds |services| x |names| rows
plus the whitelisted tag values, and like the persisted spans it does not
see rows added to the relation after it was built.
"""

from __future__ import annotations

import weakref
from collections.abc import Callable, Hashable
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from zipkin_storage_kafka_spark.functions.zipkin import normalize_trace_id_str
from zipkin_storage_kafka_spark.operators import (
    autocomplete_tags,
    dependency_links,
    merge_links,
    remote_service_names,
    service_names,
    span_names,
    trace_summaries,
)
from zipkin_storage_kafka_spark.operators.indexes import autocomplete_tags_nested
from zipkin_storage_kafka_spark.operators.trace_aggregation import aggregate_traces

# Result caps, mirroring the reference
# (KafkaSpanStore.java:130,321, KafkaAutocompleteTags.java:27,
#  KafkaStorageHttpService.java:198-199,278).
NAMES_LIMIT = 1000
DEPENDENCIES_LIMIT = 1000
AUTOCOMPLETE_LIMIT = 1000
TRACE_MANY_LIMIT = 1000
DEFAULT_QUERY_LIMIT = 10
DEFAULT_LOOKBACK_MS = 86_400_000

# The reference's autoCompleteKeys is BUILDER config
# (KafkaStorageBuilder.java autocompleteKeys / zipkin2 StorageComponent
# .Builder#autocompleteKeys), not a constant; this default matches the
# testdata's two whitelisted tag keys.
DEFAULT_AUTOCOMPLETE_KEYS = ("environment", "k")


@dataclass(frozen=True)
class QueryRequest:
    """zipkin2 QueryRequest (built at KafkaStorageHttpService.java:203-214).

    ``end_ts`` / ``lookback`` are epoch / delta MILLIS as in the reference;
    ``min_duration`` / ``max_duration`` are MICROS.
    ``annotation_query`` maps tag key -> value, with "" meaning
    key-exists (the bare-key form of the query string).
    """

    service_name: str | None = None
    remote_service_name: str | None = None
    span_name: str | None = None
    annotation_query: dict[str, str] = field(default_factory=dict)
    min_duration: int | None = None
    max_duration: int | None = None
    end_ts: int = 0
    lookback: int = DEFAULT_LOOKBACK_MS
    limit: int = DEFAULT_QUERY_LIMIT


def _endpoint_cols(columns: set[str]) -> tuple[Column, Column]:
    """(local service, remote service) of either span shape: the endpoint
    structs of the canonical nested shape (it has a ``tags`` map) or the
    scalar columns of the flattened oracle-test projection."""
    if "tags" in columns:
        return (
            F.col("local_endpoint.service_name"),
            F.col("remote_endpoint.service_name"),
        )
    return F.col("local_service"), F.col("remote_service")


def _span_matches(request: QueryRequest, columns: set[str]) -> F.Column:
    """Single-span conjunct of QueryRequest.test: service + span name +
    remote service + duration + annotation conditions must co-occur on ONE
    span (public zipkin2 semantics; applied at
    KafkaStorageHttpService.java:228).

    Shape-aware: on the canonical nested span shape (``tags`` map +
    ``annotations`` array + endpoint structs, as produced by
    ``spans_with_nested`` / the JSON and PROTO3 decoders) any tag key works
    via ``element_at(tags, key)``, and a bare key (value == "") matches
    zipkin2's annotationQuery rule — an annotation whose *value* equals the
    key, OR a tag with that key present.  On the flattened oracle-test
    projection (scalar columns) the testdata's three tag columns map back
    to their keys.
    """
    nested = "tags" in columns
    svc, rsvc = _endpoint_cols(columns)
    cond = F.lit(True)
    if request.service_name:
        cond = cond & (svc == request.service_name)
    if request.remote_service_name:
        cond = cond & (rsvc == request.remote_service_name)
    if request.span_name:
        cond = cond & (F.col("name") == request.span_name)
    if request.min_duration is not None:
        cond = cond & (F.col("duration") >= request.min_duration)
    if request.max_duration is not None:
        cond = cond & (F.col("duration") <= request.max_duration)
    for key, value in request.annotation_query.items():
        if nested:
            tag_val = F.element_at(F.col("tags"), F.lit(key))
            if value == "":
                ann_hit = F.exists(
                    F.col("annotations"), lambda a: a["value"] == F.lit(key)
                )
                cond = cond & (tag_val.isNotNull() | ann_hit)
            else:
                cond = cond & (tag_val == value)
        else:
            if key == "environment":
                kcol = F.col("env")
            elif key == "k":
                kcol = F.col("tag_k")
            elif key == "error":
                kcol = F.when(F.col("is_error"), F.lit("true"))
            else:
                kcol = F.lit(None).cast("string")
            cond = cond & (kcol.isNotNull() if value == "" else (kcol == value))
    return cond


def _local_relation(rows: pd.DataFrame, like: DataFrame) -> DataFrame:
    """``rows`` on the driver as an Arrow-backed ``LocalRelation`` (Arrow is
    on in ``session.get_spark``) with the schema of ``like``: a filter,
    select or limit over it folds into a new ``LocalRelation``, so
    collecting it runs no Spark job.  An empty pandas
    frame would become a ``LogicalRDD`` (one job per collect), so an empty
    relation is a one-row frame under ``limit(0)``, which Catalyst folds to
    an empty ``LocalRelation``; the row is blank strings, the type of every
    column of the name/tag stores."""
    spark = like.sparkSession
    if rows.empty:
        blank = pd.DataFrame([[""] * len(like.columns)], columns=like.columns)
        return spark.createDataFrame(blank, like.schema).limit(0)
    return spark.createDataFrame(rows, like.schema)


# One name/tag index per spans relation, shared by every SpanStore over it
# and dropped with it: store name -> snapshot relation.
_NAME_INDEXES: weakref.WeakKeyDictionary[DataFrame, dict] = (
    weakref.WeakKeyDictionary()
)


class SpanStore:
    """Facade over a spans DataFrame, answering the reference's query API.

    Feature flags mirror the reference's enabled-flag short circuits
    (P5 — KafkaSpanStore.java:65-78,121-126): a disabled capability returns
    an empty DataFrame with the right schema rather than raising.  Name and
    autocomplete lookups read the spans relation's name/tag index (module
    docstring), built on the first such lookup.
    """

    def __init__(
        self,
        spans: DataFrame,
        *,
        links: DataFrame | None = None,
        summaries: DataFrame | None = None,
        trace_search_enabled: bool = True,
        trace_by_id_query_enabled: bool = True,
        dependency_query_enabled: bool = True,
        autocomplete_keys: tuple[str, ...] = DEFAULT_AUTOCOMPLETE_KEYS,
    ) -> None:
        self.spans = spans
        self.autocomplete_keys = tuple(autocomplete_keys)
        # Optional pre-materialized link rows / trace rollups (the
        # reference's zipkin-dependency and zipkin-traces stores); derived
        # from spans when absent.
        self._links = links
        self._summaries = summaries
        self.trace_search_enabled = trace_search_enabled
        self.trace_by_id_query_enabled = trace_by_id_query_enabled
        self.dependency_query_enabled = dependency_query_enabled

    # -- find traces (GET /traces — KafkaStorageHttpService.java:189-241) --
    def get_traces(self, request: QueryRequest) -> DataFrame:
        """Trace summaries matching the request, newest first, limited.

        Plan shape: span-level filter (pushed to the scan) -> semi-filter
        trace ids -> per-trace rollup -> time-range filter on root timestamp
        -> top-k.  The reference's limit-BEFORE-sort scan quirk
        (KafkaStorageHttpService.java:229-234) is deliberately not
        replicated (SURVEY section 7 risk 5): we take a correct top-k, which
        TakeOrderedAndProject executes without a global sort.
        """
        summaries = (
            self._summaries
            if self._summaries is not None
            else trace_summaries(self.spans)
        )
        if not self.trace_search_enabled:
            return summaries.limit(0)
        matching = self.spans.filter(
            _span_matches(request, set(self.spans.columns))
        )
        matched_ids = matching.select("trace_id").distinct()
        out = summaries.join(matched_ids, "trace_id", "left_semi")
        if request.end_ts > 0:
            lo_us = (request.end_ts - request.lookback) * 1000
            hi_us = request.end_ts * 1000
            out = out.filter(F.col("trace_timestamp").between(lo_us, hi_us))
        return out.orderBy(
            F.col("trace_timestamp").desc(), F.col("trace_id")
        ).limit(request.limit)

    # -- one trace (GET /traces/{id} — :243-266) --
    def get_trace(self, trace_id: str) -> DataFrame:
        """Every ingest path stores normalized ids (``%016x`` in
        ``spans_from_events``, ``normalize_trace_id`` in the JSON reader,
        lowercase hex from the PROTO3 decoder), so only the argument is
        normalized (KafkaSpanStore.java:75)."""
        if not self.trace_by_id_query_enabled:
            return self.spans.limit(0)
        return self.spans.filter(
            F.col("trace_id") == normalize_trace_id_str(trace_id)
        )

    # -- many traces (GET /traceMany — :268-290; id cap 1000 at :278) --
    def get_traces_by_ids(self, trace_ids: list[str]) -> DataFrame:
        if not self.trace_by_id_query_enabled:
            return aggregate_traces(self.spans).limit(0)
        # normalized and de-duplicated as KafkaSpanStore.java:84 does
        ids = list(
            dict.fromkeys(
                normalize_trace_id_str(t) for t in trace_ids[:TRACE_MANY_LIMIT]
            )
        )
        return aggregate_traces(self.spans.filter(F.col("trace_id").isin(ids)))

    # -- the name/tag index (module docstring) --
    def _indexed(self, name: Hashable, build: Callable[[], DataFrame]) -> DataFrame:
        """The index's ``name`` store for ``self.spans``, built on first use
        and sorted by its key column, so that requests only filter, select
        or limit (an ``orderBy`` over a ``LocalRelation`` runs jobs)."""
        stores = _NAME_INDEXES.setdefault(self.spans, {})
        if name not in stores:
            df = build()
            rows = df.toPandas().sort_values(df.columns[0], ignore_index=True)
            stores[name] = _local_relation(rows, df)
        return stores[name]

    def _names_view(self) -> DataFrame:
        """The columns the name stores aggregate, from either span shape."""
        svc, rsvc = _endpoint_cols(set(self.spans.columns))
        return self.spans.select(
            svc.alias("local_service"), rsvc.alias("remote_service"), "name"
        )

    def _autocomplete(self) -> DataFrame:
        def build() -> DataFrame:
            if "tags" in self.spans.columns:
                return autocomplete_tags_nested(self.spans, self.autocomplete_keys)
            return autocomplete_tags(self.spans, keys=self.autocomplete_keys)

        return self._indexed(("autocomplete", self.autocomplete_keys), build)

    # -- names (GET /serviceNames... — :98-163) --
    def get_service_names(self) -> DataFrame:
        return self._indexed(
            "service_names", lambda: service_names(self._names_view())
        ).limit(NAMES_LIMIT)

    def get_span_names(self, service_name: str) -> DataFrame:
        return self._indexed(
            "span_names", lambda: span_names(self._names_view())
        ).filter(F.col("service_name") == service_name)

    def get_remote_service_names(self, service_name: str) -> DataFrame:
        return self._indexed(
            "remote_service_names", lambda: remote_service_names(self._names_view())
        ).filter(F.col("service_name") == service_name)

    # -- dependencies (GET /dependencies — :69-96) --
    def get_dependencies(self, end_ts: int, lookback: int) -> DataFrame:
        """Link counters over [end_ts - lookback, end_ts] (millis), merged
        per (parent, child) — reference range-scans 1-min buckets then
        DependencyLinker.merge (KafkaStorageHttpService.java:80-87)."""
        links = (
            self._links
            if self._links is not None
            else dependency_links(self.spans)
        )
        if not self.dependency_query_enabled:
            return merge_links(links).limit(0)
        lo_us = (end_ts - lookback) * 1000
        hi_us = end_ts * 1000
        in_range = links.filter(F.col("timestamp").between(lo_us, hi_us))
        return (
            merge_links(in_range)
            .orderBy("parent", "child")
            .limit(DEPENDENCIES_LIMIT)
        )

    # -- autocomplete (GET /autocompleteTags... — :165-187,292-309) --
    def get_autocomplete_keys(self) -> DataFrame:
        return self._autocomplete().select("tag_key").limit(AUTOCOMPLETE_LIMIT)

    def get_autocomplete_values(self, key: str) -> DataFrame:
        return self._autocomplete().filter(F.col("tag_key") == key)

    # -- instances metadata (GET /instances — KafkaStorageHttpService.java:
    #    311-326).  The scatter-gather topology dissolves in Spark; the
    #    analog is executor introspection. --
    def get_instances(self) -> list[dict]:
        sc = self.spans.sparkSession.sparkContext
        return [
            {
                "app_id": sc.applicationId,
                "master": sc.master,
                "executors": sc.defaultParallelism,
            }
        ]
