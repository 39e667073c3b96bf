"""Job-postings domain pipeline: golden-value tests on hand-built
fixtures covering the reference's semantic subtleties (FIXTURES.md §2):
nulls/blanks in required fields, duplicate job_ids, classifier order
("Junior Senior" titles), GBP conversion, one-sided salaries, views=0
ratio guard, sentinel experience merge, region mapping."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.domain import pipeline as P
from bigdata_storage_and_proccess_job_data_spark.domain.schemas import (
    NORMALIZED_POSTING_SCHEMA,
    RAW_POSTING_SCHEMA,
)

EVENT_DATE = "2024-03-15"
MS_DAY = 86_400_000
# 2024-03-10 00:00:00 UTC in epoch ms (5 days before EVENT_DATE)
TS_MAR10 = 1_710_028_800_000


def _posting(**kw):
    base = {f.name: None for f in NORMALIZED_POSTING_SCHEMA.fields}
    base.update(
        job_id="j1",
        source="linkedin",
        company_name="Acme",
        title="Engineer",
        salary_currency="USD",
        listed_time=TS_MAR10,
    )
    base.update(kw)
    return base


@pytest.fixture(scope="module")
def enriched(spark):
    rows = [
        # duplicate job_id: later listed_time must win (the GBP one)
        _posting(job_id="dup", title="Data Scientist", salary_min=10_000.0,
                 listed_time=TS_MAR10 - 40 * MS_DAY),
        _posting(job_id="dup", title="Senior Data Scientist",
                 salary_min=40_000.0, salary_max=60_000.0,
                 salary_currency="GBP", location_country="UK",
                 remote_allowed=True, views=10, applies=5),
        # invalid rows: blank company, null title
        _posting(job_id="bad1", company_name="  "),
        _posting(job_id="bad2", title=None),
        # classifier order: junior checked before senior
        _posting(job_id="order", title="Junior Senior Developer",
                 experience_level="Not Specified", views=0, applies=3,
                 location_country="US"),
        # one-sided salary: only max -> avg = max
        _posting(job_id="oneside", title="Product Manager",
                 salary_max=120_000.0, experience_level="Director",
                 location_country="DE"),
        # non-positive salary treated as null
        _posting(job_id="nonpos", title="Sales Intern", salary_min=-5.0,
                 salary_max=0.0),
    ]
    df = spark.createDataFrame(rows, NORMALIZED_POSTING_SCHEMA)
    return {
        r["job_id"]: r.asDict()
        for r in P.enrich_postings(P.clean_postings(df), EVENT_DATE).collect()
    }


def test_validation_and_dedup(enriched):
    assert set(enriched) == {"dup", "order", "oneside", "nonpos"}


def test_dedup_latest_wins_and_gbp_conversion(enriched):
    r = enriched["dup"]
    assert r["salary_currency"] == "GBP"
    assert r["salary_min_usd"] == pytest.approx(40_000 * 1.27)
    assert r["salary_max_usd"] == pytest.approx(60_000 * 1.27)
    assert r["salary_avg"] == pytest.approx(50_000 * 1.27)
    assert r["salary_range"] == pytest.approx(20_000 * 1.27)
    assert r["salary_category"] == "medium"
    assert r["region"] == "Europe"
    assert r["job_category"] == "Data"
    # source said nothing ("None"? no -- None is null) => derived Senior
    assert r["experience_level_final"] == "Senior"
    assert r["competition_score"] == pytest.approx(50.0)
    assert r["freshness"] == "new" and r["days_since_posted"] == 5


def test_classifier_order_and_sentinel_merge(enriched):
    r = enriched["order"]
    # Junior rule fires before Senior despite both matching (v2 order)
    assert r["experience_level_final"] == "Entry level"
    # views=0 -> ratio guard yields null, not error/inf
    assert r["competition_score"] is None
    assert r["region"] == "North America"


def test_one_sided_salary(enriched):
    r = enriched["oneside"]
    assert r["salary_avg"] == pytest.approx(120_000.0)
    assert r["salary_range"] is None
    # source value kept when not null/sentinel
    assert r["experience_level_final"] == "Director"
    assert r["salary_category"] == "high"


def test_nonpositive_salary_is_null(enriched):
    r = enriched["nonpos"]
    assert r["salary_min_usd"] is None
    assert r["salary_max_usd"] is None
    assert r["salary_avg"] is None
    assert r["salary_category"] == "unknown"
    assert r["experience_level_final"] == "Internship"
    assert r["job_category"] == "Sales"


def test_batch_job_cubes(spark):
    rows = [
        _posting(job_id=f"a{i}", company_name="Acme",
                 title="Engineer", salary_min=100_000.0, salary_max=100_000.0,
                 remote_allowed=(i % 2 == 0), views=10, applies=1)
        for i in range(4)
    ] + [
        _posting(job_id="b1", company_name="Globex", title="Designer",
                 salary_min=50_000.0, salary_max=70_000.0),
    ]
    df = spark.createDataFrame(rows, NORMALIZED_POSTING_SCHEMA)
    out = P.batch_job(df, EVENT_DATE)
    assert set(out) == {
        "jobs_detail", "company_stats", "location_stats",
        "category_experience_stats", "worktype_stats", "temporal_stats",
        "salary_distribution",
    }
    comp = {r["company_name_clean"]: r.asDict()
            for r in out["company_stats"].collect()}
    assert comp["ACME"]["job_count"] == 4
    assert comp["ACME"]["avg_salary"] == pytest.approx(100_000.0)
    assert comp["ACME"]["remote_count"] == 2
    assert comp["GLOBEX"]["avg_salary"] == pytest.approx(60_000.0)
    assert str(comp["ACME"]["report_date"]) == EVENT_DATE
    dist = {(r["salary_category"], r["job_category"]): r["job_count"]
            for r in out["salary_distribution"].collect()}
    assert dist[("high", "Engineering")] == 4
    assert dist[("medium", "Design")] == 1


def test_normalize_raw_round_trip(spark):
    raw_rows = [
        {f.name: None for f in RAW_POSTING_SCHEMA.fields}
        | {
            "job_id": "r1",
            "company_name": "Initech",
            "title": "Dev",
            "location": "Austin, TX",
            "min_salary": "$85,000",
            "max_salary": "95000.50",
            "views": "12.0",
            "applies": "3.0",
            "listed_time": str(TS_MAR10),
            "remote_allowed": "1",
        }
    ]
    raw = spark.createDataFrame(raw_rows, RAW_POSTING_SCHEMA)
    n = P.normalize_raw(raw).collect()[0].asDict()
    assert n["salary_min"] == pytest.approx(85_000.0)
    assert n["salary_max"] == pytest.approx(95_000.5)
    assert n["views"] == 12 and n["applies"] == 3
    assert n["listed_time"] == TS_MAR10
    assert n["remote_allowed"] is True
    assert n["location_city"] == "Austin"
    assert n["salary_currency"] == "USD"


def test_stream_batch_share_enrichment(spark, tmp_path):
    """The identical enrich_postings plan runs under readStream
    (reference W6: one code path for batch and live)."""
    rows = [
        _posting(job_id="s1", title="Senior Engineer",
                 salary_min=100_000.0, salary_max=140_000.0),
        _posting(job_id="s2", title="Junior Analyst", views=4, applies=2),
    ]
    src = str(tmp_path / "postings")
    spark.createDataFrame(rows, NORMALIZED_POSTING_SCHEMA).write.parquet(src)

    stream = (
        spark.readStream.schema(NORMALIZED_POSTING_SCHEMA).parquet(src)
    )
    enriched_stream = P.enrich_postings(stream, EVENT_DATE).drop("processed_at")
    q = (
        enriched_stream.writeStream.format("memory")
        .queryName("domain_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = {
        r["job_id"]: r.asDict()
        for r in spark.sql("SELECT * FROM domain_stream").collect()
    }
    batch = {
        r["job_id"]: r.asDict()
        for r in P.enrich_postings(
            spark.createDataFrame(rows, NORMALIZED_POSTING_SCHEMA), EVENT_DATE
        ).drop("processed_at").collect()
    }
    assert got == batch


def test_epoch_s_to_timestamp_keeps_fraction_and_session_tz_free(spark):
    """F5 (spark_streaming_v2.py:71-74): epoch seconds map to the same
    instant whatever the session time zone -- the fraction survives,
    and the repeated 01:30 of the 2023 America/New_York fall-back
    (1699165800, the second one) is not read back an hour early."""
    from bigdata_storage_and_proccess_job_data_spark.functions import cleaning

    df = spark.createDataFrame(
        [(0, 1700000000.75), (1, 1699165800.0)], "i int, s double"
    )
    us = F.unix_micros(cleaning.epoch_s_to_timestamp("s")).alias("us")
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        got = [r.us for r in df.orderBy("i").select(us).collect()]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert got == [1_700_000_000_750_000, 1_699_165_800_000_000]
