"""Per-module standalone stage tests: the reference's 12-phase chain run
stage-by-stage over a tiny frame, asserting values AND the column-order
contract (SURVEY §1.3; reference tests assert exact ordering, e.g.
tests/test_classify_ip.py:121-133)."""

from __future__ import annotations

from juniper_syslog_filter_spark import stages as S

MSG = (
    "RT_IDP_ATTACK: observed 10.1.2.3/1024 > 203.0.113.9/443 "
    "protocol=tcp SeverityLevel=2 Severity=CRITICAL"
)


def _base(spark):
    return spark.createDataFrame(
        [
            ("2025-12-19T10:00:00Z", "srx-fw01", "RT_IDP", MSG),
            ("2025-12-19T10:01:00Z", "srx-fw02", "SSHD", "login ok"),
        ],
        "Timestamp string, Hostname string, AppName string, Message string",
    )


def test_stage_chain_column_order_and_values(spark):
    df = _base(spark)
    df = S.stage_extract_routing(df)
    assert df.columns == ["Timestamp", "Hostname", "AppName", "routing", "Message"]
    df = S.stage_split_ip(df)
    assert df.columns == [
        "Timestamp", "Hostname", "AppName", "routing", "srcIP", "dstIP", "Message",
    ]
    df = S.stage_classify_ip(df)
    assert df.columns == [
        "Timestamp", "Hostname", "AppName", "routing",
        "srcIP", "srcIP_type", "dstIP", "dstIP_type", "Message",
    ]
    df = S.stage_extract_protocol(df)
    df = S.stage_extract_severity_level(df)
    df = S.stage_extract_severity(df)
    # final 12-column contract (modules/filter_critical.py:16 shape)
    assert df.columns == [
        "Timestamp", "Hostname", "AppName", "routing",
        "srcIP", "srcIP_type", "dstIP", "dstIP_type",
        "protocol", "SeverityLevel", "Severity", "Message",
    ]
    rows = {r.Hostname: r for r in df.collect()}
    hit = rows["srx-fw01"]
    assert hit.routing == "10.1.2.3 > 203.0.113.9"
    assert (hit.srcIP, hit.srcIP_type) == ("10.1.2.3", "private")
    assert (hit.dstIP, hit.dstIP_type) == ("203.0.113.9", "global")
    assert (hit.protocol, hit.SeverityLevel, hit.Severity) == ("tcp", "2", "CRITICAL")
    miss = rows["srx-fw02"]
    assert (miss.routing, miss.srcIP, miss.srcIP_type) == ("", "", "")
    assert (miss.protocol, miss.SeverityLevel, miss.Severity) == ("", "", "")

    crit = S.stage_filter_severity(df, "CRITICAL")
    assert crit.count() == 1
    kw = S.stage_filter_keyword(_base(spark), "RT_IDP_ATTACK")
    assert kw.count() == 1


def test_stage_cli_roundtrip(spark, tmp_path):
    """python -m juniper_syslog_filter_spark stage ... over CSV dirs."""
    from juniper_syslog_filter_spark.sinks import write_stage_csv
    from juniper_syslog_filter_spark.sources.csv_source import read_stage_csv
    from juniper_syslog_filter_spark.stages import STAGES

    src = str(tmp_path / "in")
    write_stage_csv(_base(spark), src)
    df = read_stage_csv(spark, src)
    out = STAGES["extract-routing"](df)
    assert out.columns == ["Timestamp", "Hostname", "AppName", "routing", "Message"]
    got = {r.Hostname: r.routing for r in out.collect()}
    assert got == {"srx-fw01": "10.1.2.3 > 203.0.113.9", "srx-fw02": ""}
