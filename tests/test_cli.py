"""CLI surface: the self-service entry (`python -m …` analog of the
reference's drop-a-YAML-in-configs workflow, ref: dags/dag_factory.py:100-106).

Invoked in-process via main(argv) — a subprocess would pay a fresh JVM per
test for no extra fidelity.
"""

from __future__ import annotations

import json
import textwrap

import pytest

from data_engineering_etl_self_service_spark.__main__ import main

pytestmark = pytest.mark.pipeline


def _write_spec(tmp_path, name, min_rows, out_dir):
    p = tmp_path / f"{name}.yaml"
    p.write_text(textwrap.dedent(f"""
    pipeline_info:
      name: {name}
    source:
      type: file
      format: parquet
      path: /root/testdata/sf0.001/region.parquet
    destination:
      path: {out_dir}/{name}
    data_quality_checks:
      - check_type: min_row_count
        threshold: {min_rows}
      - check_type: unique_column
        column: r_regionkey
    """))
    return str(p)


def test_cli_run_publishes_on_pass(spark, tmp_path, capsys):
    spec = _write_spec(tmp_path, "ok_pipe", 1, str(tmp_path / "lake"))
    rc = main(["run", spec, "--ds", "2025-08-13"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert out["passed"] is True and out["published_path"]
    assert spark.read.parquet(out["published_path"]).count() == 5


def test_cli_run_quarantines_on_dq_failure(tmp_path, capsys):
    spec = _write_spec(tmp_path, "bad_pipe", 10_000, str(tmp_path / "lake"))
    rc = main(["run", spec])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 2
    assert out["passed"] is False
    assert out["quarantined_path"] and out["quarantined_path"].endswith("__quarantine")
    assert any("min_row_count" in f for f in out["failures"])


def test_cli_run_dir_runs_every_spec(tmp_path, capsys):
    _write_spec(tmp_path, "p1", 1, str(tmp_path / "lake"))
    _write_spec(tmp_path, "p2", 1, str(tmp_path / "lake"))
    rc = main(["run-dir", str(tmp_path)])
    lines = [l for l in capsys.readouterr().out.strip().splitlines() if l.startswith("{")]
    assert rc == 0 and len(lines) == 2


def test_cli_unknown_query_lists_known(capsys):
    rc = main(["query", "definitely_not_a_query"])
    assert rc == 1
    assert "unknown query" in capsys.readouterr().err


def test_cli_backfill_runs_range_and_reports_metrics(tmp_path, capsys):
    spec = _write_spec(tmp_path, "bf_pipe", 1, str(tmp_path / "lake"))
    rc = main(
        ["backfill", spec, "--start", "2025-07-28", "--end", "2025-07-30"]
    )
    lines = [
        json.loads(l)
        for l in capsys.readouterr().out.strip().splitlines()
        if l.startswith("{")
    ]
    assert rc == 0 and len(lines) == 3
    assert all(l["passed"] and l["n_rows"] == 5 for l in lines)
    assert all("total_s" in l["metrics"] for l in lines)


def test_examples_directory_specs_parse_and_run(
    spark, sf_dir, tmp_path, capsys, monkeypatch
):
    """Every shipped examples/*.yaml parses warning-free and runs green
    (paths redirected under tmp so the repo tree stays clean). Specs
    whose production source path doesn't exist in this sandbox (e.g.
    web_corpus_extraction's crawled-pages lake) get a schema-faithful
    source materialized under tmp: fixture documents wrapped as HTML
    pages, exactly what the extract_text stage expects."""
    import pathlib
    import yaml as _yaml

    from pyspark.sql import functions as F
    from data_engineering_etl_self_service_spark.catalog import load_table
    from data_engineering_etl_self_service_spark.plans.spec import load_spec

    ex = pathlib.Path(__file__).resolve().parents[1] / "examples"
    specs = sorted(ex.glob("*.yaml"))
    assert len(specs) >= 2
    pages_src = None
    for p in specs:
        cfg = _yaml.safe_load(p.read_text())
        cfg["destination"]["path"] = str(
            tmp_path / cfg["pipeline_info"]["name"]
        )
        src = cfg.get("source", {})
        src_path = str(src.get("path", ""))
        if src.get("type") == "snapshot_cdf" and not pathlib.Path(
            src_path
        ).exists():
            # CDC replication example (round 12): materialize a small
            # upstream snapshot history (overwrite + append + row-level
            # delete) and check the replica converges to its head
            from data_engineering_etl_self_service_spark.sources.snapshots import (
                delete_where,
                read_snapshot,
                write_snapshot,
            )

            up = str(tmp_path / "cdc_upstream")
            base_df = spark.range(40).selectExpr(
                "id", "id % 7 AS grp", "concat('r', id) AS name"
            )
            write_snapshot(
                base_df.filter("id % 2 = 0"), up, mode="overwrite"
            )
            write_snapshot(base_df.filter("id % 2 = 1"), up, mode="append")
            delete_where(spark, up, "id % 10 = 0")
            cfg["source"]["path"] = up
            q = tmp_path / p.name
            q.write_text(_yaml.safe_dump(cfg))
            assert not load_spec(str(q)).warnings
            rc = main(["run", str(q), "--ds", "2025-08-13"])
            assert rc == 0, p.name
            got = read_snapshot(spark, cfg["destination"]["path"])
            assert got.count() == 36  # 40 minus the 4 deleted
            assert got.filter("id % 10 = 0").count() == 0
            continue
        if src.get("type") == "file" and not pathlib.Path(
            src_path.split("{", 1)[0]
        ).exists():
            ops = {t.get("op") for t in cfg.get("transformations", [])}
            if "extract_archive" in ops:
                # shard-shaped source: (doc_id, payload) tar shards of
                # (png + txt) WebDataset samples
                from data_engineering_etl_self_service_spark.operators.archive import (
                    build_tar,
                )
                from data_engineering_etl_self_service_spark.operators.multimodal import (
                    build_png,
                )

                shards_src = str(tmp_path / "wds_shards")
                spark.createDataFrame(
                    [
                        (
                            i,
                            bytearray(
                                build_tar(
                                    [
                                        (
                                            f"s{i:04d}.png",
                                            build_png(8, 6, 10, 20, 30),
                                        ),
                                        (f"s{i:04d}.txt", b"caption"),
                                    ]
                                )
                            ),
                        )
                        for i in range(20)
                    ],
                    "doc_id long, payload binary",
                ).write.mode("overwrite").parquet(shards_src)
                cfg["source"]["path"] = shards_src
                q = tmp_path / p.name
                q.write_text(_yaml.safe_dump(cfg))
                assert not load_spec(str(q)).warnings
                rc = main(["run", str(q), "--ds", "2025-08-13"])
                assert rc == 0, p.name
                continue
            if "classify" in ops:
                # labeled-office-docs source: (doc_id, docx, label) with
                # label set on a rated slice only (round 6c example)
                from data_engineering_etl_self_service_spark.operators.docx import (
                    build_docx,
                )

                office_src = str(tmp_path / "office_docs")
                rows = []
                for i in range(24):
                    text = (
                        f"spam spam offer {i}" if i % 2 else f"notes agenda {i}"
                    )
                    label = bool(i % 2) if i < 16 else None
                    rows.append((i, bytearray(build_docx(text, i)), label))
                spark.createDataFrame(
                    rows, "doc_id long, docx binary, label boolean"
                ).write.mode("overwrite").parquet(office_src)
                cfg["source"]["path"] = office_src
                q = tmp_path / p.name
                q.write_text(_yaml.safe_dump(cfg))
                assert not load_spec(str(q)).warnings
                rc = main(["run", str(q), "--ds", "2025-08-13"])
                assert rc == 0, p.name
                continue
            if src.get("format") == "avro":
                # Avro-lake source (round 7): materialize with the pure
                # OCF writer so the run exercises the jar-less read path
                from data_engineering_etl_self_service_spark.sources.files import (
                    write_avro,
                )

                avro_src = str(tmp_path / "avro_lake_in")
                write_avro(
                    spark.range(40).selectExpr(
                        "id", "CAST(id AS DOUBLE) / 4 AS score"
                    ),
                    avro_src,
                )
                cfg["source"]["path"] = avro_src
                q = tmp_path / p.name
                q.write_text(_yaml.safe_dump(cfg))
                assert not load_spec(str(q)).warnings
                rc = main(["run", str(q), "--ds", "2025-08-13"])
                assert rc == 0, p.name
                continue
            if pages_src is None:
                from data_engineering_etl_self_service_spark.operators.html import (
                    build_html,
                )

                pages_src = str(tmp_path / "raw_pages")
                docs = (
                    load_table(spark, sf_dir, "documents")
                    .filter(F.col("lang") == "en")
                    .limit(50)
                    .select("doc_id", "text")
                    .collect()
                )
                spark.createDataFrame(
                    [(r.doc_id, build_html(r.text, r.doc_id)) for r in docs],
                    "doc_id long, html string",
                ).write.mode("overwrite").parquet(pages_src)
            cfg["source"]["path"] = pages_src
        q = tmp_path / p.name
        q.write_text(_yaml.safe_dump(cfg))
        assert not load_spec(str(q)).warnings
        rc = main(["run", str(q), "--ds", "2025-08-13"])
        assert rc == 0, p.name


def test_cli_explain_prints_formatted_plan(capsys):
    rc = main(["explain", "pricing_summary"])
    out = capsys.readouterr().out
    assert rc == 0 and "== Physical Plan ==" in out


def test_cli_optimize_parquet_and_snapshot(spark, tmp_path, capsys):
    from data_engineering_etl_self_service_spark.sources.snapshots import (
        write_snapshot,
    )

    src = str(tmp_path / "raw")
    spark.range(10_000).repartition(16).write.parquet(src)
    rc = main(["optimize", src, "--target-mb", "1"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["n_files"] >= 1
    assert spark.read.parquet(out["out"]).count() == 10_000

    snap = str(tmp_path / "snap")
    for i in range(3):
        write_snapshot(spark.range(5), snap)
    rc = main(["optimize", snap, "--snapshot"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["vacuumed_dirs"] == 3
    assert len(out["history"]) == 1
    assert spark.read.parquet(f"{snap}/data/*").count() == 15


def test_cli_sql_over_lake_views(capsys):
    rc = main([
        "sql",
        "SELECT r_name, COUNT(*) AS n FROM region GROUP BY r_name "
        "ORDER BY r_name LIMIT 3",
        "--sf-dir", "/root/testdata/sf0.001",
    ])
    out = capsys.readouterr().out
    assert rc == 0 and "r_name" in out and "AFRICA" in out
