"""RFC3164 syslog parsing as vectorized column transforms.

Reference: /root/reference/lib/syslog/parser.go:11 (the RFC3164 regex),
parser.go:47-106 (ParseRFC3164Inplace). The reference parses one line at a
time inside a per-connection goroutine; here the same regex is applied to
an entire Arrow batch at once.

Two interchangeable implementations, tested equal:

* ``with_parsed`` — a scalar Arrow UDF over ``parse_rfc3164_arrow``: one
  RE2 ``extract_regex`` pass captures every field (day-of-month and
  seconds included), then casts, bounds and error precedence run as
  ``pyarrow.compute`` kernels into a ``StructArray``. No pandas, no
  per-row Python. The UDF is marked non-deterministic so Spark evaluates
  it exactly once per row (see :func:`with_parsed`).
* ``with_parsed_native`` — pure Spark SQL expressions (``regexp_extract``
  ×6 + ``to_timestamp``), JVM-side, whole-stage-codegen friendly. Zero
  Python, zero Arrow transfer.

Error semantics (parser.go:13-16, 56-106): a line yields exactly one of a
parsed record or an error tag (Invalid Message / Invalid Priority /
Invalid Timestamp / Invalid PID), error precedence matching the reference's
check order. PRI or PID values beyond int32 are Invalid Priority / Invalid
PID (the struct's declared types) rather than a task crash. Divergence
from the reference (documented in SURVEY.md §7): Punt forwards malformed
rows downstream with stale struct contents (server.go:202-215, a bug); we
route them to the errors side output only.

RFC3164 timestamps carry no year; the reference back-fills the *wall-clock*
year (parser.go:73-84). For reproducibility the year is a pinned parameter.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

# Port of the Go RE2 pattern at parser.go:11. Inner alternation `(.|\n)*`
# rewritten `[\s\S]*` (equivalent, and keeps the group count at 6). The
# separator class is RE2's `\s`, spelled out: Python's and Java's `\s`
# also match \v, so the oracle and the JVM-native twin would accept lines
# that Go and the Arrow twin reject.
RFC3164_REGEX = (
    r"<([0-9]+)>([A-Z][a-z][a-z][\t\n\f\r ]{1,2}\d{1,2}[\t\n\f\r ]"
    r"\d{2}[:]\d{2}[:]\d{2})[\t\n\f\r ]([\w][\w\d\.@-]*)[\t\n\f\r ]"
    r"([^: \[]+)(?:\[([0-9]+)\])?[: \[] ?([\s\S]*)"
)

# The same pattern with named groups for pyarrow's RE2 ``extract_regex``
# (the reference's Go regexp IS RE2, so RE2 semantics are the native
# semantics here). The timestamp is captured in pieces — month, day,
# clock and its seconds — so the rollover check needs no second pass.
RFC3164_REGEX_NAMED = (
    r"<(?P<pri>[0-9]+)>"
    r"(?P<mon>[A-Z][a-z][a-z])\s{1,2}(?P<day>\d{1,2})"
    r"\s(?P<clock>\d{2}[:]\d{2}[:](?P<sec>\d{2}))"
    r"\s(?P<hostname>[\w][\w\d\.@-]*)\s(?P<tag>[^: \[]+)"
    r"(?:\[(?P<pid>[0-9]+)\])?[: \[] ?(?P<content>[\s\S]*)"
)

# Struct produced by the parse stage. `error` is null on success.
PARSED_SCHEMA = (
    "priority int, ts timestamp, hostname string, tag string, "
    "pid int, content string, error string"
)

ERR_INVALID_MESSAGE = "Invalid Message"
ERR_INVALID_PRIORITY = "Invalid Priority"
ERR_INVALID_TIMESTAMP = "Invalid Timestamp"
ERR_INVALID_PID = "Invalid PID"


_I32_MAX = 2_147_483_647


def parse_rfc3164_arrow(text: pa.Array, year: int, tz: str = "UTC") -> pa.StructArray:
    """Vectorized parse of a batch of raw lines into ``PARSED_SCHEMA``
    fields — the body of the :func:`with_parsed` UDF. ``tz`` is the zone
    the year-less wall-clock timestamps are read in: the session time
    zone, as in the JVM-native twin's ``to_timestamp``. ``ts`` comes back
    as a zone-less array of UTC instants."""
    groups = pc.extract_regex(text, RFC3164_REGEX_NAMED)
    matched = pc.is_valid(groups)
    # flatten() folds the struct's validity into each field: a line that
    # does not match yields nulls, not '' (which would read "bad priority")
    g = dict(zip((f.name for f in groups.type), groups.flatten()))

    # Digit strings only (the regex guarantees it): float64 parses any
    # length without overflow and is exact up to the int32 bound. RE2
    # yields '' for the unparticipating optional pid group → pid 0.
    pri = pc.cast(g["pri"], pa.float64())
    pid = pc.cast(pc.if_else(pc.equal(g["pid"], ""), "0", g["pid"]), pa.float64())

    # Both reference layouts ("Jan 02" / "Jan  2", parser.go:18-21) rejoin
    # to one format; year pinned, never wall clock (parser.go:74 uses
    # time.Now().Year()). C strptime ROLLS invalid dates and leap seconds
    # over ("Feb 30" → Mar 2, ":60" → next minute) where Go's time.Parse
    # (parser.go:69) rejects them, so a row whose day or second no longer
    # equals the one in the string is an invalid timestamp.
    ts = pc.strptime(
        pc.binary_join_element_wise(str(year), g["mon"], g["day"], g["clock"], " "),
        format="%Y %b %d %H:%M:%S",
        unit="us",
        error_is_null=True,
    )
    ts_ok = pc.and_(
        pc.equal(pc.day(ts), pc.cast(g["day"], pa.int64())),
        pc.equal(pc.second(ts), pc.cast(g["sec"], pa.int64())),
    )
    if tz != "UTC":
        # Java reads a wall time in the session zone with the earlier
        # offset when it is ambiguous and with the offset before the gap
        # when a DST gap skips it; that is assume_timezone's "earliest"
        # offset in both cases. Subtract it to get the UTC instant.
        at = pc.assume_timezone(ts, tz, ambiguous="earliest", nonexistent="earliest")
        ts = pc.subtract(ts, pc.subtract(pc.local_timestamp(at), pc.cast(at, ts.type)))

    # Error precedence mirrors ParseRFC3164Inplace's check order
    # (parser.go:56-106): match → priority → timestamp → pid. Values that
    # don't fit the declared int32 schema are INVALID, like the JVM-native
    # twin's try_cast — never a task crash on one adversarial line.
    error = pc.case_when(
        pc.make_struct(
            pc.invert(matched),
            pc.greater(pri, _I32_MAX),
            pc.invert(pc.fill_null(ts_ok, False)),
            pc.greater(pid, _I32_MAX),
            field_names=["message", "priority", "timestamp", "pid"],
        ),
        ERR_INVALID_MESSAGE,
        ERR_INVALID_PRIORITY,
        ERR_INVALID_TIMESTAMP,
        ERR_INVALID_PID,
    )
    ok = pc.is_null(error)

    def keep(a: pa.Array) -> pa.Array:
        return pc.if_else(ok, a, pa.scalar(None, a.type))

    return pa.StructArray.from_arrays(
        [
            pc.cast(keep(pri), pa.int32()),
            keep(ts),
            keep(g["hostname"]),
            keep(g["tag"]),
            pc.cast(keep(pid), pa.int32()),
            keep(g["content"]),
            error,
        ],
        names=["priority", "ts", "hostname", "tag", "pid", "content", "error"],
    )


def with_parsed(df: DataFrame, text_col: str = "text", year: int = 2017) -> DataFrame:
    """Attach ``parsed`` struct + ``parse_ok`` flag via the Arrow UDF.

    The UDF is marked non-deterministic so each row is parsed exactly
    once: a deterministic Python UDF under a Project lets the optimizer
    push a ``parse_ok`` filter below it, and ExtractPythonUDFs then
    evaluates the UDF once for the Filter and again for the Project
    (measured 2× parse work). Built per call, not at module level: a DDL
    return type needs an active session."""
    tz = df.sparkSession.conf.get("spark.sql.session.timeZone")

    @arrow_udf(PARSED_SCHEMA)
    def parse_rfc3164(text: pa.Array) -> pa.Array:
        return parse_rfc3164_arrow(text, year, tz)

    parse_udf = parse_rfc3164.asNondeterministic()
    return df.withColumn("parsed", parse_udf(F.col(text_col))).withColumn(
        "parse_ok", F.col("parsed.error").isNull()
    )


# --- JVM-native variant (no Python in the hot path) ------------------------


def _native_group(text: Column, idx: int) -> Column:
    return F.regexp_extract(text, RFC3164_REGEX, idx)


def with_parsed_native(
    df: DataFrame, text_col: str = "text", year: int = 2017
) -> DataFrame:
    """Same contract as :func:`with_parsed`, built from Spark built-ins only.

    Stays inside whole-stage codegen; at 100 TB this avoids every
    JVM↔Python Arrow round-trip. Semantics pinned equal to the UDF path by
    tests/test_parse.py::test_native_matches_udf.
    """
    text = F.col(text_col)
    matched = text.rlike(RFC3164_REGEX)
    pri_s = _native_group(text, 1)
    ts_s = _native_group(text, 2)
    host_s = _native_group(text, 3)
    tag_s = _native_group(text, 4)
    pid_s = _native_group(text, 5)
    content_s = _native_group(text, 6)

    # try_cast / try_to_timestamp: malformed input → NULL → error tag (ANSI
    # mode would throw the whole task instead).
    pri = pri_s.try_cast("int")
    ts = F.try_to_timestamp(
        F.concat(F.lit(str(year) + " "), F.regexp_replace(ts_s, r"\s+", " ")),
        F.lit("yyyy MMM d HH:mm:ss"),
    )
    pid_num = pid_s.try_cast("int")
    pid_missing = pid_s == ""
    pid = F.coalesce(pid_num, F.lit(0))

    error = (
        # NULL text matches nothing: Invalid Message, as in the Arrow twin
        F.when(~F.coalesce(matched, F.lit(False)), F.lit(ERR_INVALID_MESSAGE))
        .when(pri.isNull(), F.lit(ERR_INVALID_PRIORITY))
        .when(ts.isNull(), F.lit(ERR_INVALID_TIMESTAMP))
        .when(pid_num.isNull() & ~pid_missing, F.lit(ERR_INVALID_PID))
    )
    ok = error.isNull()

    def _ok(c: Column) -> Column:
        return F.when(ok, c)

    parsed = F.struct(
        _ok(pri).alias("priority"),
        _ok(ts).alias("ts"),
        _ok(host_s).alias("hostname"),
        _ok(tag_s).alias("tag"),
        _ok(pid).alias("pid"),
        _ok(content_s).alias("content"),
        error.alias("error"),
    )
    return df.withColumn("parsed", parsed).withColumn("parse_ok", ok)


def split_errors(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a parsed frame into (good, errors). The errors side output is a
    complete table — the reference's lossy non-blocking error channel
    (server.go:161-168) upgraded to exact accounting."""
    good = df.filter(F.col("parse_ok"))
    errors = df.filter(~F.col("parse_ok")).select(
        F.col("text").alias("data"), F.col("parsed.error").alias("error")
    )
    return good, errors
