"""Parse-stage goldens — every literal line from the reference's unit tests
(lib/syslog/parser_test.go, buffer_test.go) must round-trip exactly, on both
the Arrow-UDF path and the JVM-native path."""

import datetime
import re

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pytest
from pyspark.sql import functions as F

from punt_spark.fixtures import GOLDEN_AUDIT, GOLDEN_MULTILINE, GOLDEN_SIMPLE
from punt_spark.parse import (
    RFC3164_REGEX,
    RFC3164_REGEX_NAMED,
    parse_rfc3164_arrow,
    split_errors,
    with_parsed,
    with_parsed_native,
)

YEAR = 2017

# Adversarial lines every parser twin must agree on: NULL and empty text,
# non-ASCII hosts and separators (\w/\s are ASCII-only under RE2, the Go
# reference's semantics), \v (matched by Python's and Java's \s but not
# RE2's), out-of-int32 and zero-padded PRI/PID, and calendar edges that C
# strptime rolls over where Go's time.Parse rejects them.
NON_ASCII_PROBES = [
    "<13>Mar 14 04:20:19 hést tag: x",
    "<13>Mar 14 04:20:19\u00a0h tag: x",
    "<13>Mar 14 04:20:19 h\u3000tag: x",
    "<13>Mar 14 04:20:19\x0bh tag: x",
]
PROBES = NON_ASCII_PROBES + [
    None,
    "",
    "<13>",
    "no match at all",
    "<999>Mar 14 04:00:00 h tag: x",
    "<2147483647>Mar 14 04:20:19 h tag[2147483647]: x",
    "<2147483648>Mar 14 04:20:19 h tag: x",
    "<99999999999>Mar 14 04:20:19 host tag: x",
    "<13>Mar 14 04:20:19 host tag[99999999999]: y",
    "<" + "9" * 5000 + ">Mar 14 04:20:19 h tag: x",
    "<000000000013>Mar 14 04:20:19 h tag[00000000000042]: x",
    "<13>Mar 14 04:20:19 h tag[]: x",
    "<13>Jan  2 03:04:05 host t: x",
    "<13>Jan 2  03:04:05 host t: x",
]
PROBES += [
    f"<13>{m} {d} 04:20:19 h tag: x"
    for m in ["Jan", "Feb", "Mar", "Apr", "Jun", "Dec", "Xxx"]
    for d in [0, 1, 9, 28, 29, 30, 31, 32]
]
PROBES += [
    f"<13>Mar 14 {t} h tag: x"
    for t in ["23:59:59", "24:00:00", "04:20:60", "04:20:61", "04:60:19", "00:00:00"]
]

_FIELDS = ["priority", "ts", "hostname", "tag", "pid", "content"]


def _assert_matches_oracle(texts, year=YEAR):
    """The Arrow batch function equals the row-at-a-time oracle parser
    (reference_impl.parse_line) row for row; NULL text, which the oracle
    does not take, is an Invalid Message."""
    from punt_spark.reference_impl import parse_line

    got = parse_rfc3164_arrow(pa.array(texts, pa.string()), year).to_pylist()
    assert len(got) == len(texts)
    for text, row in zip(texts, got):
        env, err = parse_line(text, year) if text is not None else (None, "Invalid Message")
        want = dict(env or dict.fromkeys(_FIELDS), error=err)
        assert row == want, text


def _parse_one(spark, line, native=False):
    df = spark.createDataFrame([(line,)], "text string")
    fn = with_parsed_native if native else with_parsed
    return fn(df, "text", YEAR).select("parsed.*").collect()[0]


# "pandas_udf" names the with_parsed path (now an Arrow UDF); the id is
# kept so these tests keep their names across the rewrite.
@pytest.mark.parametrize("native", [False, True], ids=["pandas_udf", "jvm_native"])
class TestGoldens:
    def test_simple(self, spark, native):
        # parser_test.go:9-17
        r = _parse_one(spark, GOLDEN_SIMPLE, native)
        assert r.priority == 190
        assert r.hostname == "test-hostname-with-stuff-1-32"
        assert r.tag == "my-application"
        assert r.pid == 0
        assert r.content == "this is a test oh boy!"
        assert r.ts == datetime.datetime(YEAR, 2, 22, 4, 23, 32)
        assert r.error is None

    def test_multiline(self, spark, native):
        # parser_test.go:19-25 — multi-line content preserved
        r = _parse_one(spark, GOLDEN_MULTILINE, native)
        assert r.priority == 34
        assert r.hostname == "mymachine"
        assert r.tag == "su"
        assert r.content == "'su root' failed for lonvick\non /dev/pts/8"
        assert r.error is None

    def test_audit(self, spark, native):
        # buffer_test.go:50-59 payload
        r = _parse_one(spark, GOLDEN_AUDIT, native)
        assert r.priority == 133
        assert r.hostname == "example-host-prod-1-1"
        assert r.tag == "audit"
        assert r.content == "type=SYSCALL msg=audit(1489465219.995:1699): test"

    def test_pid_extraction(self, spark, native):
        r = _parse_one(spark, "<13>Jan 02 03:04:05 host mytag[4242]: hello", native)
        assert r.tag == "mytag"
        assert r.pid == 4242
        assert r.content == "hello"

    def test_space_padded_day(self, spark, native):
        # second reference layout "Jan  2 15:04:05" (parser.go:20)
        r = _parse_one(spark, "<13>Jan  2 03:04:05 host t: x", native)
        assert r.ts == datetime.datetime(YEAR, 1, 2, 3, 4, 5)

    def test_invalid_message(self, spark, native):
        r = _parse_one(spark, "not a syslog line at all", native)
        assert r.error == "Invalid Message"
        assert r.priority is None

    def test_invalid_timestamp(self, spark, native):
        # "Xyz" matches the regex month shape [A-Z][a-z][a-z]; the failure
        # surfaces at time parse, as in Go (parser.go:69-88)
        r = _parse_one(spark, "<13>Xyz 99 99:99:99 host t: x", native)
        assert r.error == "Invalid Timestamp"


def test_bad_calendar_date_is_invalid_timestamp(spark):
    # regex matches (digits fine) but Feb 30 is not a date → timestamp error,
    # mirroring Go time.Parse "day out of range" (parser.go:69-88)
    df = spark.createDataFrame([("<13>Feb 30 01:02:03 host t: x",)], "text string")
    r = with_parsed(df, "text", YEAR).select("parsed.*").collect()[0]
    assert r.error == "Invalid Timestamp"


def test_native_matches_udf(spark, transcripts):
    """The JVM-native parse must be row-for-row identical to the pandas UDF
    over the full mixed fixture corpus (plain/JSON/malformed/multiline)."""
    a = (
        with_parsed(transcripts, "text", YEAR)
        .select("conv_id", "turn_idx", "parsed.*")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    b = (
        with_parsed_native(transcripts, "text", YEAR)
        .select("conv_id", "turn_idx", "parsed.*")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_split_errors_partition(spark, transcripts):
    """Parse is total: every row lands in exactly one of good/errors."""
    parsed = with_parsed(transcripts, "text", YEAR)
    good, errors = split_errors(parsed)
    n = transcripts.count()
    assert good.count() + errors.count() == n
    assert errors.filter(F.col("error").isNull()).count() == 0


def test_batch_matches_pandas_oracle(transcripts):
    """The Spark UDF body is the Arrow batch function; pin it against the
    row-at-a-time oracle parser over the mixed fixture corpus."""
    _assert_matches_oracle(transcripts.toPandas()["text"].tolist())


def test_arrow_extract_matches_python():
    """The RE2 extraction must capture exactly what Python re (with
    re.ASCII, Go's RE2 semantics) captures from the same pattern, over
    the fixture corpus plus the adversarial probes; and the full batch
    parse must equal the oracle parser on all of them."""
    from punt_spark.fixtures import make_transcripts

    texts = make_transcripts(20_000, seed=11)["text"].tolist() + PROBES
    groups = pc.extract_regex(pa.array(texts, pa.string()), RFC3164_REGEX_NAMED)
    pattern = re.compile(RFC3164_REGEX, re.ASCII)
    n_matched = 0
    for text, g in zip(texts, groups.to_pylist()):
        m = pattern.search(text) if text is not None else None
        assert (g is None) == (m is None), text
        if m is None:
            continue
        n_matched += 1
        pri, ts_raw, host, tag, pid, content = m.groups()
        # RE2 yields '' for the unparticipating optional pid group where
        # Python re yields None
        assert (g["pri"], g["hostname"], g["tag"], g["pid"], g["content"]) == (
            pri, host, tag, pid or "", content
        ), text
        assert f"{g['mon']} {g['day']} {g['clock']}" == " ".join(ts_raw.split())
        assert g["sec"] == ts_raw[-2:]
    assert n_matched > 10_000  # the corpus is mostly well-formed
    # the non-ASCII and \v probes are rejected by every engine
    for probe in NON_ASCII_PROBES:
        assert pattern.search(probe) is None
    _assert_matches_oracle(texts)


def test_parse_once_under_filter(spark, transcripts):
    """with_parsed evaluates the parse UDF once per row: the parse_ok filter
    is not pushed below the UDF's projection (which would run the UDF a
    second time for the Filter), and a filter over the pipeline's slim
    parse cache still reads the cache."""
    from punt_spark.pipeline import slim_parse_projection
    from punt_spark.sink import CHUNK_COL

    q = with_parsed(transcripts, "text", YEAR).filter("parse_ok").select("parsed.*")
    q.collect()
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan

    raw = transcripts.withColumn(CHUNK_COL, F.lit("c")).withColumnRenamed(
        "ts", "turn_ts"
    )
    cached = slim_parse_projection(with_parsed(raw, "text", YEAR)).cache()
    try:
        cached.count()
        plan = cached.filter("parse_ok")._jdf.queryExecution().executedPlan().toString()
        # (the cached relation's own plan, printed under it, runs the UDF)
        above_cache = plan.split("InMemoryRelation")[0]
        assert "InMemoryTableScan" in above_cache, plan
        assert "ArrowEvalPython" not in above_cache, plan
    finally:
        cached.unpersist()


def test_session_time_zone_matches_native(spark):
    """Under a non-UTC session zone both parsers read the wall time in that
    zone, DST gap and overlap included (Java's rules: the earlier offset
    when ambiguous, shifted forward by the gap when skipped)."""
    lines = [
        "<13>Jun  1 12:00:00 h t: summer",
        "<13>Mar 12 02:30:00 h t: in the spring-forward gap",
        "<13>Nov  5 01:30:00 h t: in the fall-back overlap",
    ]
    utc = datetime.timezone.utc
    want = [
        int(datetime.datetime(YEAR, *md, tzinfo=utc).timestamp())
        for md in [(6, 1, 16, 0), (3, 12, 7, 30), (11, 5, 5, 30)]
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(lines)], "i int, text string")
    key = "spark.sql.session.timeZone"
    saved = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        for fn in (with_parsed, with_parsed_native):
            epochs = fn(df, "text", YEAR).orderBy("i").select(
                F.col("parsed.ts").cast("long")
            )
            assert [r[0] for r in epochs.collect()] == want, fn.__name__
    finally:
        spark.conf.set(key, saved)


def test_probes_native_matches_udf(spark):
    """The Arrow UDF and the JVM-native twin agree row for row on the
    adversarial probes (test_native_matches_udf covers the corpus)."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(PROBES)], "i int, text string"
    )

    def rows(fn):
        return [
            r.asDict()
            for r in fn(df, "text", YEAR).orderBy("i").select("parsed.*").collect()
        ]

    udf_rows, native_rows = rows(with_parsed), rows(with_parsed_native)
    for text, a, b in zip(PROBES, udf_rows, native_rows):
        assert a == b, text
