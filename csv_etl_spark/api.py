"""Thin HTTP facade over the compiled-plan engine — the JSON endpoints of
the reference dashboard (``/root/reference/src/converter_dashboard/app.py``)
mapped 1:1 onto existing engine functions.  The HTML UI is presentation and
stays out of scope (SURVEY §7); everything a dashboard client calls is here:

| endpoint | reference | engine |
|---|---|---|
| GET  /api/specs/sources,destinations  | app.py spec lists | SpecStore |
| POST/PUT/DELETE /api/specs/{sources,destinations}[/<id>] | app.py:244-332 spec CRUD (+ directory/template side-effect, app.py:715-747) | SpecStore.save_*/delete_* + sinks.write_template_csv |
| GET  /api/{sources,destinations}/<id>/columns | app.py:461-481 | FileSpec.columns |
| GET/DELETE /api/mappings[/<id>]       | app.py:392-399 CRUD | SpecStore |
| POST /api/mappings/<id>/save          | app.py:424-448 visual save | SpecStore.save_mapping |
| POST /api/upload/<source_id>          | app.py:104-129 file upload | filesystem (containment-checked) |
| GET  /api/download/<path>             | app.py:131-138 download | send_file from output root |
| POST /api/delete/<type>/<path>        | app.py:140-155 delete | filesystem (containment-checked) |
| GET  /api/preview/<src>/<file>        | app.py:515-575 | read_spec_csv + validate |
| POST /api/preview/<src>/<file>/update | app.py:577-623 | sources.edits.update_csv_row |
| POST /api/preview/<src>/<file>/convert| app.py:625-677 | orchestrate.convert_file |
| POST /api/process/<source_id>         | app.py:161-231 | orchestrate.process_source (convert_file per file) |

Convert and process share one per-file path, ``orchestrate.convert_file``;
every listed error comes from ``TransformResult.first_errors``, which
``plans.transform`` collects while its projection is still cached.

Documented divergence (intentional, like the compiler's): the reference's
visual-editor save always persists ``filter_rules: []`` — a recorded bug
(``templates/mappings/visual.html:551``) that silently wipes filters.
This facade persists the filter_rules present in the payload and leaves
existing ones untouched when the key is absent.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import SparkSession

from csv_etl_spark import orchestrate
from csv_etl_spark.plans import validate
from csv_etl_spark.sources.csv_source import LINE_COL, read_spec_csv, with_line_numbers
from csv_etl_spark.sources.edits import update_csv_row
from csv_etl_spark.sources.sinks import write_template_csv
from csv_etl_spark.specs import FieldMapping, FileSpec, SpecStore, TransformType


# The reference pages its previews (app.py:667): an unbounded collect buys
# nothing and is a driver-OOM hazard on big files.
DEFAULT_PREVIEW_ROWS = 500


def create_app(
    spark: SparkSession,
    config_dir: str,
    input_dir: str,
    output_dir: str,
):
    """Build the Flask app.  All state lives in the reference-compatible
    JSON config files and the input/output directories — the app object
    itself is stateless (cluster-deployable behind any WSGI server)."""
    from flask import Flask, jsonify, request

    app = Flask(__name__)
    store = SpecStore(config_dir)
    in_root, out_root = Path(input_dir), Path(output_dir)

    def _source_file(source_id: str, filename: str):
        source = store.get_source(source_id)
        if not source:
            return None, None, (jsonify({"error": "Source not found"}), 404)
        path = in_root / source.default_directory / filename
        if not path.exists():
            return None, None, (jsonify({"error": "File not found"}), 404)
        return source, path, None

    # -- file operations (reference app.py:103-155, S8) ----------------------
    # JSON equivalents of the reference's flash-and-redirect routes.
    # Divergence (deliberate, safety): the reference passes
    # ``<path:filepath>`` straight into a Path join — a traversal hole;
    # here every resolved path must stay inside its root or the call is
    # a loud 400.

    def _contained(root: Path, rel: str) -> Path | None:
        p = (root / rel).resolve()
        try:
            p.relative_to(root.resolve())
        except ValueError:
            return None
        return p

    @app.post("/api/upload/<source_id>")
    def upload_file(source_id: str):
        from werkzeug.utils import secure_filename

        spec = store.get_source(source_id)
        if not spec:
            return jsonify({"error": "Source not found"}), 404
        f = request.files.get("file")
        if f is None or not f.filename:
            return jsonify({"error": "No file selected"}), 400
        if not f.filename.endswith(".csv"):
            # reference upload_file: only CSV is accepted
            return jsonify({"error": "Only CSV files are allowed"}), 400
        filename = secure_filename(f.filename)
        # the spec's directory is client-settable (POST /api/specs/sources),
        # so it gets the same containment check as download/delete paths —
        # '../' or an absolute default_directory must not escape the root
        upload_dir = _contained(in_root, spec.default_directory)
        if upload_dir is None:
            return jsonify({"error": "Invalid source directory"}), 400
        upload_dir.mkdir(parents=True, exist_ok=True)
        f.save(upload_dir / filename)
        return jsonify({"success": True, "filename": filename}), 201

    @app.get("/api/download/<path:filepath>")
    def download_file(filepath: str):
        from flask import send_file

        p = _contained(out_root, filepath)
        if p is None:
            return jsonify({"error": "Invalid path"}), 400
        if not p.is_file():
            return jsonify({"error": "File not found"}), 404
        return send_file(p, as_attachment=True)

    @app.post("/api/delete/<file_type>/<path:filepath>")
    def delete_file(file_type: str, filepath: str):
        # reference semantics: "input" → input root, anything else →
        # output root
        base = in_root if file_type == "input" else out_root
        p = _contained(base, filepath)
        if p is None:
            return jsonify({"error": "Invalid path"}), 400
        if not p.is_file():
            return jsonify({"error": "File not found"}), 404
        p.unlink()
        return jsonify({"success": True})

    # -- spec / mapping CRUD ------------------------------------------------

    @app.get("/api/specs/sources")
    def list_sources():
        return jsonify({k: v.to_dict() for k, v in store.sources().items()})

    @app.get("/api/specs/destinations")
    def list_destinations():
        return jsonify({k: v.to_dict() for k, v in store.destinations().items()})

    # spec CRUD (reference app.py:244-332).  Reference semantics kept:
    # the spec id defaults to a name slug; create AND update materialize
    # the spec's directory plus a one-row ``_template_<id>.csv`` typed
    # per column (app.py:715-747) — sources under the input root,
    # destinations under the output root.

    def _spec_from_payload(data: dict, spec_id: str | None = None):
        if spec_id is not None:
            data = {**data, "id": spec_id}
        elif not data.get("id"):
            data = {**data, "id": data.get("name", "").lower().replace(" ", "_")}
        if not data["id"]:
            raise ValueError("Spec needs an id or a name")
        spec = FileSpec.from_dict(data)
        # default_directory feeds Path joins under the input/output roots
        # (_source_file, upload_file, _materialize_spec, convert) — refuse
        # '../' and absolute paths at save time so no later join can escape
        if spec.default_directory and _contained(in_root, spec.default_directory) is None:
            raise ValueError("default_directory escapes the data root")
        return spec

    def _materialize_spec(spec: FileSpec, root: Path) -> None:
        # side-effect of spec save, not a data path: directory + template
        # so the user's next upload has a landing spot and a header model
        if not spec.default_directory:
            return
        d = _contained(root, spec.default_directory)
        if d is None:  # pre-validation persisted spec with a hostile path
            return
        d.mkdir(parents=True, exist_ok=True)
        if spec.columns:
            write_template_csv(spark, spec, str(d))

    def _spec_crud(kind: str, getter, saver, deleter, root: Path):
        def create():
            try:
                spec = _spec_from_payload(request.get_json() or {})
            except (ValueError, KeyError, TypeError) as exc:
                return jsonify({"error": f"Invalid spec payload: {exc}"}), 400
            saver(spec)
            _materialize_spec(spec, root)
            return jsonify({"success": True, "id": spec.id}), 201

        def update(spec_id: str):
            if not getter(spec_id):
                return jsonify({"error": f"{kind} not found"}), 404
            try:
                # id pinned from the URL (reference edit_source: updated.id
                # = spec_id), so a payload can't rename-by-accident
                spec = _spec_from_payload(request.get_json() or {}, spec_id)
            except (ValueError, KeyError, TypeError) as exc:
                return jsonify({"error": f"Invalid spec payload: {exc}"}), 400
            saver(spec)
            _materialize_spec(spec, root)
            return jsonify({"success": True, "id": spec.id})

        def delete(spec_id: str):
            if not deleter(spec_id):
                return jsonify({"error": f"{kind} not found"}), 404
            return jsonify({"success": True})

        def columns(spec_id: str):
            spec = getter(spec_id)
            if not spec:
                return jsonify({"error": f"{kind} not found"}), 404
            return jsonify([c.to_dict() for c in spec.columns])

        return create, update, delete, columns

    _src_create, _src_update, _src_delete, _src_columns = _spec_crud(
        "Source", store.get_source, store.save_source, store.delete_source, in_root
    )
    app.post("/api/specs/sources", endpoint="create_source")(_src_create)
    app.put("/api/specs/sources/<spec_id>", endpoint="update_source")(_src_update)
    app.delete("/api/specs/sources/<spec_id>", endpoint="delete_source")(_src_delete)
    # columns under the reference's own path shape (app.py:461-481)
    app.get("/api/sources/<spec_id>/columns", endpoint="source_columns")(_src_columns)

    _dst_create, _dst_update, _dst_delete, _dst_columns = _spec_crud(
        "Destination",
        store.get_destination,
        store.save_destination,
        store.delete_destination,
        out_root,
    )
    app.post("/api/specs/destinations", endpoint="create_destination")(_dst_create)
    app.put("/api/specs/destinations/<spec_id>", endpoint="update_destination")(_dst_update)
    app.delete(
        "/api/specs/destinations/<spec_id>", endpoint="delete_destination"
    )(_dst_delete)
    app.get(
        "/api/destinations/<spec_id>/columns", endpoint="destination_columns"
    )(_dst_columns)

    @app.get("/api/mappings")
    def list_mappings():
        return jsonify({k: v.to_dict() for k, v in store.mappings().items()})

    @app.get("/api/mappings/<mapping_id>")
    def get_mapping(mapping_id: str):
        m = store.get_mapping(mapping_id)
        if not m:
            return jsonify({"error": "Mapping not found"}), 404
        return jsonify(m.to_dict())

    @app.delete("/api/mappings/<mapping_id>")
    def delete_mapping(mapping_id: str):
        if not store.delete_mapping(mapping_id):
            return jsonify({"error": "Mapping not found"}), 404
        return jsonify({"success": True})

    @app.post("/api/mappings/<mapping_id>/save")
    def save_mapping(mapping_id: str):
        # reference app.py:424-448, minus the filter-wipe bug: filter_rules
        # persist from the payload, or stay untouched when absent
        mapping = store.get_mapping(mapping_id)
        if not mapping:
            return jsonify({"error": "Mapping not found"}), 404
        data = request.get_json() or {}
        try:
            mapping.field_mappings = [
                FieldMapping(
                    destination_field=fm["destination_field"],
                    source_field=fm.get("source_field"),
                    transform_type=TransformType(fm.get("transform_type", "direct")),
                    transform_config=fm.get("transform_config", {}),
                )
                for fm in data.get("field_mappings", [])
            ]
        except (ValueError, KeyError, TypeError) as exc:
            # bad payload (unknown transform_type, missing destination_field,
            # non-dict entry) is the client's fault: 400 with an error body,
            # matching the other endpoints — not an escaped 500
            return jsonify({"error": f"Invalid field_mappings payload: {exc}"}), 400
        if "filter_rules" in data:
            mapping.filter_rules = data["filter_rules"]
        store.save_mapping(mapping)
        return jsonify({"success": True, "message": "Mapping saved"})

    # -- preview / validate (app.py:515-575) --------------------------------

    @app.get("/api/preview/<source_id>/<filename>")
    def preview(source_id: str, filename: str):
        source, path, err = _source_file(source_id, filename)
        if err:
            return err
        # bounded collect: first N lines (override with ?limit=), full count
        # reported separately — a preview must never materialize a 100 GB
        # file on the driver
        row_cap = request.args.get("limit", type=int) or DEFAULT_PREVIEW_ROWS
        if row_cap < 0:
            return jsonify({"error": "limit must not be negative"}), 400
        df = with_line_numbers(read_spec_csv(spark, str(path), source))
        columns = [c for c in df.columns if c != LINE_COL]
        total = df.count()
        rows = [
            {"_line": r[LINE_COL], **{c: r[c] for c in columns}}
            for r in df.orderBy(LINE_COL).limit(row_cap).collect()
        ]

        errors_by_line: dict[int, list[dict]] = {}
        validation = None
        mapping_id = request.args.get("mapping_id")
        if mapping_id:
            mapping = store.get_mapping(mapping_id)
            if mapping:
                result = validate(df, mapping, line_col=LINE_COL)
                validation = {
                    "success_count": result.success_count,
                    "skipped_count": result.skipped_count,
                    "error_count": result.error_count,
                    "logs": result.log_messages[-50:],
                }
                for e in result.first_errors:
                    errors_by_line.setdefault(e["line"], []).append(
                        {k: e[k] for k in ("field", "message", "value")}
                    )

        return jsonify(
            {
                "columns": columns,
                "rows": rows,
                "total": total,
                "errors_by_line": errors_by_line,
                "validation": validation,
            }
        )

    # -- inline row edit (app.py:577-623) ------------------------------------

    @app.post("/api/preview/<source_id>/<filename>/update")
    def update_row(source_id: str, filename: str):
        source, path, err = _source_file(source_id, filename)
        if err:
            return err
        data = request.get_json() or {}
        line, row = data.get("line"), data.get("row")
        if not line or not row:
            return jsonify({"error": "Missing line number or row data"}), 400
        try:
            line = int(line)
        except (TypeError, ValueError):
            return jsonify({"error": f"Line number must be an integer: {line!r}"}), 400
        try:
            update_csv_row(spark, str(path), line, row, spec=source)
        except ValueError as exc:  # a column the file lacks
            return jsonify({"error": str(exc)}), 400
        return jsonify({"success": True, "message": f"Row {line} updated"})

    # -- single-file convert (app.py:625-677) --------------------------------

    @app.post("/api/preview/<source_id>/<filename>/convert")
    def convert(source_id: str, filename: str):
        source, path, err = _source_file(source_id, filename)
        if err:
            return err
        data = request.get_json() or {}
        mapping_id = data.get("mapping_id")
        if not mapping_id:
            return jsonify({"error": "Missing mapping_id"}), 400
        mapping = store.get_mapping(mapping_id)
        if not mapping:
            return jsonify({"error": "Mapping not found"}), 404
        destination = store.get_destination(mapping.destination_id)
        if not destination:
            return jsonify({"error": "Destination not found"}), 404

        result, out_file = orchestrate.convert_file(
            spark, source, destination, mapping, path, out_root
        )
        if result.error_count > 0:
            return (
                jsonify(
                    {
                        "success": False,
                        "message": f"Conversion failed with {result.error_count} errors",
                        "errors": [
                            {k: e[k] for k in ("line", "field", "message")}
                            for e in result.first_errors[:20]
                        ],
                        "logs": result.log_messages,
                    }
                ),
                400,
            )
        return jsonify(
            {
                "success": True,
                "message": f"Successfully converted {result.success_count} records",
                "output_file": out_file.name,
                "logs": result.log_messages,
            }
        )

    # -- bulk process (app.py:161-231) ---------------------------------------

    @app.post("/api/process/<source_id>")
    def process(source_id: str):
        data = request.get_json() or request.form or {}
        mapping_id = data.get("mapping_id")
        if not mapping_id:
            return jsonify({"error": "Missing mapping_id"}), 400
        if not store.get_mapping(mapping_id):
            return jsonify({"error": "Mapping not found"}), 404
        try:
            return jsonify(
                orchestrate.process_source(
                    spark, store, mapping_id, str(in_root), str(out_root)
                )
            )
        except ValueError as exc:
            return jsonify({"error": str(exc)}), 400

    return app
