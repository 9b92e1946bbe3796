"""HTTP facade (csv_etl_spark.api) against the reference dashboard's JSON
contract: preview+validate, inline row update, gated convert, bulk
process, mapping CRUD — each endpoint driving the compiled-plan engine.
Reference semantics at converter_dashboard/app.py:161-231, 424-448,
515-677."""

from __future__ import annotations

import json

import pytest

from csv_etl_spark.api import create_app
from csv_etl_spark.specs import SpecStore


@pytest.fixture
def env(spark, tmp_path):
    cfg = tmp_path / "config"
    cfg.mkdir()
    (cfg / "sources.json").write_text(json.dumps({
        "src1": {
            "id": "src1", "name": "Source 1", "default_directory": "s1",
            "columns": [{"name": "Date", "type": "string"},
                        {"name": "Ticker", "type": "string"},
                        {"name": "Type", "type": "string"}],
        }
    }))
    (cfg / "destinations.json").write_text(json.dumps({
        "dst1": {
            "id": "dst1", "name": "Dest 1", "default_directory": "d1",
            "columns": [{"name": "date", "type": "string"},
                        {"name": "symbol", "type": "string"}],
        }
    }))
    (cfg / "mappings.json").write_text(json.dumps({
        "m1": {
            "id": "m1", "name": "M1", "source_id": "src1", "destination_id": "dst1",
            "field_mappings": [
                {"destination_field": "date", "source_field": "Date",
                 "transform_type": "date_format",
                 "transform_config": {"input_format": "%Y-%m-%d",
                                      "output_format": "%d.%m.%Y"}},
                {"destination_field": "symbol", "source_field": "Ticker",
                 "transform_type": "direct", "transform_config": {}},
            ],
            "filter_rules": [{"field": "Type", "operator": "equals", "value": "SKIPME"}],
        }
    }))
    in_dir = tmp_path / "in" / "s1"
    in_dir.mkdir(parents=True)
    (in_dir / "a.csv").write_text(
        "Date,Ticker,Type\n"
        "2024-01-15,AAPL,BUY\n"
        "not-a-date,MSFT,BUY\n"
        "2024-01-17,GOOG,SKIPME\n"
    )
    app = create_app(spark, str(cfg), str(tmp_path / "in"), str(tmp_path / "out"))
    app.config["TESTING"] = True
    return app.test_client(), tmp_path, cfg


def test_preview_with_validation(env):
    client, tmp_path, _ = env
    r = client.get("/api/preview/src1/a.csv?mapping_id=m1")
    assert r.status_code == 200
    body = r.get_json()
    assert body["columns"] == ["Date", "Ticker", "Type"]
    assert body["total"] == 3
    assert body["rows"][0] == {"_line": 2, "Date": "2024-01-15", "Ticker": "AAPL", "Type": "BUY"}
    # line 3 has the unparseable date; skip-rule row has no errors
    assert set(body["errors_by_line"]) == {"3"} or set(body["errors_by_line"]) == {3}
    v = body["validation"]
    assert (v["success_count"], v["skipped_count"], v["error_count"]) == (1, 1, 1)


def test_preview_missing_file_and_source(env):
    client, _, _ = env
    assert client.get("/api/preview/nope/a.csv").status_code == 404
    assert client.get("/api/preview/src1/nope.csv").status_code == 404


def test_convert_gated_then_fixed_via_update(env):
    client, tmp_path, _ = env
    r = client.post("/api/preview/src1/a.csv/convert", json={"mapping_id": "m1"})
    assert r.status_code == 400
    body = r.get_json()
    assert body["success"] is False
    assert any(e["field"] == "date" for e in body["errors"])
    assert not (tmp_path / "out" / "d1" / "a_dst1.csv").exists()  # withheld

    # fix the bad row inline (reference validate→fix→convert loop)
    r = client.post(
        "/api/preview/src1/a.csv/update",
        json={"line": 3, "row": {"Date": "2024-01-16"}},
    )
    assert r.status_code == 200

    r = client.post("/api/preview/src1/a.csv/convert", json={"mapping_id": "m1"})
    assert r.status_code == 200, r.get_json()
    out = (tmp_path / "out" / "d1" / "a_dst1.csv").read_text().splitlines()
    assert out[0] == "date,symbol"
    assert sorted(out[1:]) == ["15.01.2024,AAPL", "16.01.2024,MSFT"]


def test_process_bulk(env):
    client, tmp_path, _ = env
    (tmp_path / "in" / "s1" / "b.csv").write_text(
        "Date,Ticker,Type\n2024-02-01,TSLA,BUY\n"
    )
    r = client.post("/api/process/src1", json={"mapping_id": "m1"})
    assert r.status_code == 200
    body = r.get_json()
    # a.csv: 1 ok, 1 skipped, 1 error; b.csv: 1 ok
    assert body["success_count"] == 2
    assert body["skipped_count"] == 1
    assert body["error_count"] == 1
    assert body["errors"][0]["file"] == "a.csv"
    # fail_on_error gates a.csv, b.csv converts
    assert not (tmp_path / "out" / "d1" / "a_dst1.csv").exists()
    assert (tmp_path / "out" / "d1" / "b_dst1.csv").exists()


def test_mapping_save_preserves_filter_rules(env):
    """Divergence from the reference's visual-editor bug (visual.html:551
    always posts filter_rules: []): absent key leaves filters untouched."""
    client, _, cfg = env
    new_fms = [{"destination_field": "symbol", "source_field": "Ticker",
                "transform_type": "direct", "transform_config": {}}]
    r = client.post("/api/mappings/m1/save", json={"field_mappings": new_fms})
    assert r.status_code == 200
    saved = SpecStore(str(cfg)).get_mapping("m1")
    assert len(saved.field_mappings) == 1
    assert saved.filter_rules  # NOT wiped

    r = client.post(
        "/api/mappings/m1/save",
        json={"field_mappings": new_fms, "filter_rules": []},
    )
    assert r.status_code == 200
    assert SpecStore(str(cfg)).get_mapping("m1").filter_rules == []


def test_preview_row_cap(env):
    """Collects are bounded: ?limit caps the rows collected to the driver
    while total still reports the full file row count."""
    client, _, _ = env
    body = client.get("/api/preview/src1/a.csv?limit=1").get_json()
    assert body["total"] == 3
    assert len(body["rows"]) == 1
    assert body["rows"][0]["_line"] == 2


def test_preview_negative_limit_is_400(env):
    client, _, _ = env
    r = client.get("/api/preview/src1/a.csv?limit=-3")
    assert r.status_code == 400 and "error" in r.get_json()


@pytest.mark.parametrize(
    "payload",
    [
        {"line": "three", "row": {"Date": "2024-01-16"}},
        {"line": 3, "row": {"NoSuchColumn": "x"}},
    ],
    ids=["non_integer_line", "unknown_column"],
)
def test_update_bad_input_is_400_and_leaves_file(env, payload):
    client, tmp_path, _ = env
    csv = tmp_path / "in" / "s1" / "a.csv"
    before = csv.read_bytes()
    r = client.post("/api/preview/src1/a.csv/update", json=payload)
    assert r.status_code == 400 and "error" in r.get_json()
    assert csv.read_bytes() == before


def test_error_entries_default_cap(env, monkeypatch):
    """Listed errors come from the one cap, ERROR_LIST_CAP, never
    unbounded (the reference UI's 50-error cap, app.py:221)."""
    from csv_etl_spark.plans import pipeline

    monkeypatch.setattr(pipeline, "ERROR_LIST_CAP", 0)
    client, _, _ = env
    body = client.get("/api/preview/src1/a.csv?mapping_id=m1").get_json()
    assert body["errors_by_line"] == {}  # capped at 0 ⇒ nothing collected
    assert body["validation"]["error_count"] == 1  # counters unaffected


def test_mapping_save_bad_payload_is_400(env):
    client, _, cfg = env
    before = SpecStore(str(cfg)).get_mapping("m1").to_dict()
    r = client.post(
        "/api/mappings/m1/save",
        json={"field_mappings": [{"destination_field": "x", "transform_type": "warp"}]},
    )
    assert r.status_code == 400 and "error" in r.get_json()
    r = client.post(
        "/api/mappings/m1/save",
        json={"field_mappings": [{"source_field": "Ticker"}]},  # no destination_field
    )
    assert r.status_code == 400 and "error" in r.get_json()
    # nothing was persisted by the failed saves
    assert SpecStore(str(cfg)).get_mapping("m1").to_dict() == before


def test_mapping_crud(env):
    client, _, _ = env
    assert "m1" in client.get("/api/mappings").get_json()
    assert client.get("/api/mappings/m1").get_json()["name"] == "M1"
    assert client.get("/api/mappings/nope").status_code == 404
    assert client.delete("/api/mappings/m1").status_code == 200
    assert client.get("/api/mappings/m1").status_code == 404
    assert client.delete("/api/mappings/m1").status_code == 404
    # spec listings still served
    assert "src1" in client.get("/api/specs/sources").get_json()
    assert "dst1" in client.get("/api/specs/destinations").get_json()


def test_source_spec_create_columns_template_delete(env):
    """Reference app.py:244-281 + 715-747 round trip: POST creates the
    spec, its directory and a typed template CSV under the INPUT root;
    GET columns serves the column dicts; DELETE removes the spec."""
    client, tmp_path, cfg = env
    payload = {
        "name": "New Feed", "default_directory": "feed",
        "columns": [
            {"name": "When", "type": "datetime"},
            {"name": "Amount", "type": "money"},
            {"name": "Note", "type": "string"},
        ],
    }
    r = client.post("/api/specs/sources", json=payload)
    assert r.status_code == 201 and r.get_json()["id"] == "new_feed"
    # persisted through the store (fresh read from disk)
    assert SpecStore(str(cfg)).get_source("new_feed").name == "New Feed"
    # directory + template side-effect, under the INPUT root
    tpl = tmp_path / "in" / "feed" / "_template_new_feed.csv"
    assert tpl.exists()
    lines = tpl.read_text().strip().splitlines()
    assert lines[0] == "When,Amount,Note" and len(lines) == 2

    r = client.get("/api/sources/new_feed/columns")
    assert r.status_code == 200
    assert [c["name"] for c in r.get_json()] == ["When", "Amount", "Note"]

    assert client.delete("/api/specs/sources/new_feed").status_code == 200
    assert client.get("/api/sources/new_feed/columns").status_code == 404
    assert SpecStore(str(cfg)).get_source("new_feed") is None


def test_destination_spec_crud_and_update_pins_id(env):
    """Destination twin under the OUTPUT root; PUT updates in place and
    pins the id from the URL (reference edit_destination semantics)."""
    client, tmp_path, cfg = env
    r = client.post("/api/specs/destinations", json={
        "id": "dst2", "name": "Dest 2", "default_directory": "d2",
        "columns": [{"name": "out", "type": "string"}],
    })
    assert r.status_code == 201 and r.get_json()["id"] == "dst2"
    assert (tmp_path / "out" / "d2" / "_template_dst2.csv").exists()

    # update: payload id is ignored, URL id wins; template regenerated
    r = client.put("/api/specs/destinations/dst2", json={
        "id": "evil_rename", "name": "Dest 2 v2", "default_directory": "d2",
        "columns": [{"name": "out", "type": "string"},
                    {"name": "extra", "type": "integer"}],
    })
    assert r.status_code == 200 and r.get_json()["id"] == "dst2"
    store = SpecStore(str(cfg))
    assert store.get_destination("evil_rename") is None
    spec = store.get_destination("dst2")
    assert spec.name == "Dest 2 v2" and len(spec.columns) == 2
    tpl = (tmp_path / "out" / "d2" / "_template_dst2.csv").read_text()
    assert tpl.strip().splitlines()[0] == "out,extra"

    r = client.get("/api/destinations/dst2/columns")
    assert [c["type"] for c in r.get_json()] == ["string", "integer"]
    assert client.delete("/api/specs/destinations/dst2").status_code == 200


def test_spec_crud_error_paths(env):
    """400 on unusable payloads, 404 on unknown ids — errors stay JSON."""
    client, _, _ = env
    assert client.post("/api/specs/sources", json={}).status_code == 400
    assert client.post(
        "/api/specs/sources",
        json={"name": "X", "columns": [{"name": "a", "type": "no_such_type"}]},
    ).status_code == 400
    assert client.put("/api/specs/sources/nope", json={"name": "n"}).status_code == 404
    assert client.delete("/api/specs/sources/nope").status_code == 404
    assert client.get("/api/sources/nope/columns").status_code == 404
    assert client.get("/api/destinations/nope/columns").status_code == 404


def test_created_source_spec_is_immediately_usable(env):
    """The created spec is a real engine object: upload a CSV into its
    directory and preview it through the normal read path."""
    client, tmp_path, _ = env
    client.post("/api/specs/sources", json={
        "name": "Feed2", "default_directory": "feed2",
        "columns": [{"name": "A", "type": "string"},
                    {"name": "B", "type": "integer"}],
    })
    (tmp_path / "in" / "feed2" / "x.csv").write_text("A,B\nhello,1\nworld,2\n")
    r = client.get("/api/preview/feed2/x.csv")
    assert r.status_code == 200
    body = r.get_json()
    assert body["columns"] == ["A", "B"] and body["total"] == 2
    assert body["rows"][0]["A"] == "hello"


def test_file_upload_download_delete(env):
    """S8 file operations (reference app.py:103-155): upload lands under
    the source's directory, only .csv accepted, download serves from the
    output root, delete removes from either root by type."""
    import io

    client, tmp_path, _ = env
    # upload: happy path
    r = client.post(
        "/api/upload/src1",
        data={"file": (io.BytesIO(b"Date,Ticker,Type\n2024-01-01,X,BUY\n"),
                       "up.csv")},
        content_type="multipart/form-data",
    )
    assert r.status_code == 201 and r.get_json()["filename"] == "up.csv"
    assert (tmp_path / "in" / "s1" / "up.csv").exists()
    # upload guards: unknown source, no file, non-CSV
    assert client.post("/api/upload/nope", data={}).status_code == 404
    assert client.post(
        "/api/upload/src1", data={}, content_type="multipart/form-data"
    ).status_code == 400
    r = client.post(
        "/api/upload/src1",
        data={"file": (io.BytesIO(b"x"), "evil.exe")},
        content_type="multipart/form-data",
    )
    assert r.status_code == 400 and "CSV" in r.get_json()["error"]

    # download from the output root
    out_dir = tmp_path / "out" / "d1"
    out_dir.mkdir(parents=True, exist_ok=True)
    (out_dir / "result.csv").write_text("date,symbol\n01.01.2024,X\n")
    r = client.get("/api/download/d1/result.csv")
    assert r.status_code == 200
    assert b"01.01.2024" in r.data
    assert client.get("/api/download/d1/missing.csv").status_code == 404

    # delete: input type, then output type
    r = client.post("/api/delete/input/s1/up.csv")
    assert r.status_code == 200
    assert not (tmp_path / "in" / "s1" / "up.csv").exists()
    r = client.post("/api/delete/output/d1/result.csv")
    assert r.status_code == 200
    assert not (out_dir / "result.csv").exists()
    assert client.post("/api/delete/input/s1/up.csv").status_code == 404


def test_file_ops_refuse_path_traversal(env, tmp_path_factory):
    """Documented divergence from the reference: ../ paths must be a
    loud 400, never an escape from the configured roots."""
    client, tmp_path, _ = env
    outside = tmp_path / "secret.txt"
    outside.write_text("keep me")
    r = client.get("/api/download/../secret.txt")
    assert r.status_code in (400, 404)  # flask may normalize; either refuses
    r = client.post("/api/delete/input/../secret.txt")
    assert r.status_code in (400, 404)
    assert outside.exists()


def test_upload_refuses_escaping_source_directory(env, tmp_path):
    """default_directory is client-settable; a '../' or absolute value must
    not let an upload (or the spec-save template side effect) land outside
    the input root."""
    client, tmp_path, cfg = env
    # spec-save validation: hostile directory is rejected at create time
    r = client.post("/api/specs/sources", json={
        "name": "Evil", "default_directory": "../escape",
        "columns": [{"name": "A", "type": "string"}],
    })
    assert r.status_code == 400
    r = client.post("/api/specs/sources", json={
        "name": "Evil Abs", "default_directory": "/tmp/abs_escape",
        "columns": [{"name": "A", "type": "string"}],
    })
    assert r.status_code == 400
    assert not (tmp_path / "escape").exists()
    # upload guard: a pre-validation persisted spec with a hostile path
    # still cannot receive files
    store = SpecStore(str(cfg))
    spec = store.get_source("src1")
    spec.default_directory = "../evil"
    store.save_source(spec)
    import io
    r = client.post(
        "/api/upload/src1",
        data={"file": (io.BytesIO(b"A\n1\n"), "x.csv")},
        content_type="multipart/form-data",
    )
    assert r.status_code == 400
    assert not (tmp_path / "evil").exists()
