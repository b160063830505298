"""Scalar functions from the reference, as native Column expressions.

Everything here stays JVM-side (whole-stage codegen) — no Python UDFs.

Reference citations (/root/reference):
- link_key:        DependencyLinkSerde.java:15-19  (parent + ":" + child)
- normalize_trace_id: zipkin2 Span.normalizeTraceId semantics, used at
                   KafkaSpanStore.java:75,84 — lowercase hex, left-pad to
                   16 chars (or 32 when longer than 16).
- micros->millis:  TraceStorageTopology.java:116,167
- JSON V2 codec:   KafkaStorageHttpService.java:261 (camelCase wire form)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_trace_id(col: Column | str) -> Column:
    """Lowercase hex, left-padded with '0' to 16 chars, or 32 when >16.

    Mirrors zipkin2 ``Span.normalizeTraceId`` (public library semantics;
    call sites at reference KafkaSpanStore.java:75,84).
    """
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    return F.when(F.length(c) > 16, F.lpad(c, 32, "0")).otherwise(F.lpad(c, 16, "0"))


def normalize_trace_id_str(trace_id: str) -> str:
    """:func:`normalize_trace_id` for one id on the driver: a query
    argument is normalized once here, so the plan compares the stored
    (already normalized) column to a literal the scan can take.  Same
    result as the Column form, including ``lpad``'s cut of longer input."""
    c = trace_id.lower()
    width = 32 if len(c) > 16 else 16
    return c.rjust(width, "0")[:width]


def link_key(parent: Column | str = "parent", child: Column | str = "child") -> Column:
    """``parent + ":" + child`` — the dependency-store key
    (reference DependencyLinkSerde.java:15-19)."""
    return F.concat_ws(":", parent, child)


def micros_to_millis(col: Column | str) -> Column:
    """Epoch micros -> epoch millis (reference TraceStorageTopology.java:116)."""
    c = F.col(col) if isinstance(col, str) else col
    return (c / F.lit(1000)).cast("long")


def millis_to_micros(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return (c * F.lit(1000)).cast("long")


def micros_to_timestamp(col: Column | str) -> Column:
    """Epoch micros -> TimestampType (for time windows / partitioning)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_micros(c)


def span_to_json_v2(span_struct: Column) -> Column:
    """Encode a span struct row as Zipkin JSON V2 (camelCase field names).

    Mirrors SpanBytesEncoder.JSON_V2 shape used for query responses
    (reference KafkaStorageHttpService.java:261).  Null fields are dropped
    by ``to_json`` (ignoreNullFields default), matching the wire format.
    """
    s = span_struct
    renamed = F.struct(
        s.getField("trace_id").alias("traceId"),
        s.getField("parent_id").alias("parentId"),
        s.getField("id").alias("id"),
        s.getField("kind").alias("kind"),
        s.getField("name").alias("name"),
        s.getField("timestamp").alias("timestamp"),
        s.getField("duration").alias("duration"),
        F.struct(
            s.getField("local_endpoint").getField("service_name").alias("serviceName"),
            s.getField("local_endpoint").getField("ipv4").alias("ipv4"),
            s.getField("local_endpoint").getField("ipv6").alias("ipv6"),
            s.getField("local_endpoint").getField("port").alias("port"),
        ).alias("localEndpoint"),
        F.struct(
            s.getField("remote_endpoint").getField("service_name").alias("serviceName"),
            s.getField("remote_endpoint").getField("ipv4").alias("ipv4"),
            s.getField("remote_endpoint").getField("ipv6").alias("ipv6"),
            s.getField("remote_endpoint").getField("port").alias("port"),
        ).alias("remoteEndpoint"),
        s.getField("annotations").alias("annotations"),
        s.getField("tags").alias("tags"),
        s.getField("debug").alias("debug"),
        s.getField("shared").alias("shared"),
    )
    return F.to_json(renamed)
