"""Static guards against hidden knobs and unreached code in ``lbf_spark``.

Decisions travel as values — module constants, arguments, return
values. Two hidden forms are refused: an ``LBF_*`` environment read
outside ``session.py`` (the one module that reads deployment
settings), and a fact stashed on an object as a ``_lbf_*`` attribute
(a DataFrame attribute is silently dropped by any caller's
``.select()``).

One session factory: ``SparkSession.builder`` appears in
``session.py`` only, so every session in the package and in
``jobs/`` gets the engine's defaults and, under spark-submit, the
launcher's settings.

Driver-built frames come from ``util.local_frame`` (a LocalRelation),
never ``createDataFrame(<list>)`` (a Python RDD).

Table data files are read by one reader under the manifest's schema,
no read takes a glob path, and one commit builds every snapshot
manifest.

And no public code that only tests reach: every public top-level name
in ``lbf_spark`` must be referenced by production code or sit on
``REACH_ALLOWLIST`` with its reason."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "lbf_spark"


def _is_environ(node) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _const_str(node, prefix: str) -> bool:
    return (
        isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and node.value.startswith(prefix)
    )


def hidden_knobs(source: str) -> list[tuple[int, str]]:
    """``(line, what)`` for every ``LBF_*`` environment access and
    every ``_lbf_*`` attribute assignment in ``source``."""
    found = []
    for node in ast.walk(ast.parse(source)):
        keys = []
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
            if name == "getenv" or (
                isinstance(f, ast.Attribute) and _is_environ(f.value)
            ):
                keys = node.args[:1]
            elif name == "setattr" and len(node.args) > 1 and _const_str(
                node.args[1], "_lbf_"
            ):
                found.append((node.lineno, f"sets {node.args[1].value}"))
        elif isinstance(node, ast.Subscript) and _is_environ(node.value):
            keys = [node.slice]
        elif isinstance(node, ast.Compare) and any(
            _is_environ(c) for c in node.comparators
        ):
            keys = [node.left]
        elif (
            isinstance(node, ast.Attribute)
            and isinstance(node.ctx, ast.Store)
            and node.attr.startswith("_lbf_")
        ):
            found.append((node.lineno, f"sets {node.attr}"))
        found += [
            (node.lineno, f"reads {k.value}") for k in keys if _const_str(k, "LBF_")
        ]
    return sorted(found)


def test_no_hidden_knobs_in_package():
    sample = "\n".join([
        "import os",
        'a = os.environ.get("LBF_A", "1")',
        'b = os.getenv("LBF_B")',
        'c = os.environ["LBF_C"]',
        'd = "LBF_D" in os.environ',
        "df._lbf_regime = True",
        'setattr(df, "_lbf_other", 1)',
        'ok = os.environ.get("HOME"), df._lbf_regime',
    ])
    assert hidden_knobs(sample) == [
        (2, "reads LBF_A"), (3, "reads LBF_B"), (4, "reads LBF_C"),
        (5, "reads LBF_D"), (6, "sets _lbf_regime"), (7, "sets _lbf_other"),
    ]
    offenders = [
        f"{path.relative_to(PKG.parent)}:{line}: {what}"
        for path in sorted(PKG.rglob("*.py"))
        if path != PKG / "session.py"
        for line, what in hidden_knobs(path.read_text())
    ]
    assert offenders == []


def session_builders(source: str) -> list[int]:
    """Lines of every ``SparkSession.builder`` reference in ``source``."""
    return sorted(
        node.lineno
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Attribute)
        and node.attr == "builder"
        and isinstance(node.value, ast.Name)
        and node.value.id == "SparkSession"
    )


def test_one_session_factory():
    sample = "\n".join([
        "from pyspark.sql import SparkSession",
        'spark = SparkSession.builder.appName("x").getOrCreate()',
        "b = SparkSession.builder",
        "ok = other.builder, SparkSession.active()",
    ])
    assert session_builders(sample) == [2, 3]
    offenders = [
        f"{path.relative_to(ROOT)}:{line}"
        for path in sorted([*PKG.rglob("*.py"), *(ROOT / "jobs").rglob("*.py")])
        if path != PKG / "session.py"
        for line in session_builders(path.read_text())
    ]
    assert offenders == []


def _sites(source: str, hit) -> list[tuple[int, str]]:
    """``(line, enclosing function)`` of every node of ``source`` for
    which ``hit(node)`` holds (``""`` at module level)."""
    found = []

    def visit(node, fn: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if hit(child):
                found.append((child.lineno, fn))
            visit(child, fn)

    visit(ast.parse(source), "")
    return sorted(found)


def attribute_sites(source: str, attr: str) -> list[tuple[int, str]]:
    """``(line, enclosing function)`` of every ``.<attr>`` reference in
    ``source`` (``""`` at module level)."""
    return _sites(
        source, lambda n: isinstance(n, ast.Attribute) and n.attr == attr
    )


def key_store_sites(source: str, key: str) -> list[tuple[int, str]]:
    """``(line, enclosing function)`` of every dict literal with the
    string key ``key`` and every ``x[key] = …`` store in ``source``."""

    def hit(n) -> bool:
        if isinstance(n, ast.Dict):
            return any(
                isinstance(k, ast.Constant) and k.value == key for k in n.keys
            )
        return (
            isinstance(n, ast.Subscript)
            and isinstance(n.ctx, ast.Store)
            and isinstance(n.slice, ast.Constant)
            and n.slice.value == key
        )

    return _sites(source, hit)


def test_driver_frames_go_through_local_frame():
    """A driver-built frame is ``util.local_frame``'s LocalRelation:
    ``createDataFrame(<list>)`` plans as a Python RDD whose every
    evaluation runs Python tasks. ``fixtures.py`` keeps its pandas
    loaders, which plan as LocalRelations under Arrow."""
    sample = "\n".join([
        "def local_frame(spark, rows, schema):",
        "    return spark.createDataFrame(rows)",
        "def other(spark):",
        "    return spark.createDataFrame([(1,)], 'a long')",
        "x = spark.createDataFrame",
    ])
    assert attribute_sites(sample, "createDataFrame") == [
        (2, "local_frame"), (4, "other"), (5, ""),
    ]
    allowed = {(PKG / "util.py", "local_frame")}
    offenders = [
        f"{path.relative_to(PKG.parent)}:{line}"
        for path in sorted(PKG.rglob("*.py"))
        if path != PKG / "fixtures.py"
        for line, fn in attribute_sites(path.read_text(), "createDataFrame")
        if (path, fn) not in allowed
    ]
    assert offenders == []


def test_table_data_read_through_one_reader():
    """Table data files are read in one place, ``table._read_files``,
    under a manifest schema: no other ``.read`` in ``sources/table.py``
    and no ``mergeSchema`` (a footer-union job) anywhere in the
    package."""
    table = PKG / "sources" / "table.py"
    assert [fn for _line, fn in attribute_sites(table.read_text(), "read")] == [
        "_read_files"
    ]
    assert [
        str(path.relative_to(PKG.parent))
        for path in sorted(PKG.rglob("*.py"))
        if "mergeSchema" in path.read_text()
    ] == []


def test_one_commit_builds_snapshots():
    """``table._commit`` is the one builder of a snapshot manifest: no
    other function in ``sources/table.py`` sets a ``"snapshot_id"`` key
    (``create_tag``'s ref file names the snapshot it pins), and no
    manifest field is an unread ``n_data_files`` (a full listing of
    ``data/`` on every commit)."""
    sample = "\n".join([
        "def _commit(head):",
        "    return {'snapshot_id': head + 1}",
        "def merge(snap):",
        "    snap['snapshot_id'] = 2",
        "    ok = snap['snapshot_id'], {'other': 1}",
        "top = dict({'snapshot_id': 0})",
    ])
    assert key_store_sites(sample, "snapshot_id") == [
        (2, "_commit"), (4, "merge"), (6, ""),
    ]
    table = PKG / "sources" / "table.py"
    assert [
        site for site in key_store_sites(table.read_text(), "snapshot_id")
        if site[1] not in ("_commit", "create_tag")
    ] == []
    assert [
        str(path.relative_to(PKG.parent))
        for path in sorted(PKG.rglob("*.py"))
        if "n_data_files" in path.read_text()
    ] == []


def _glob_literal(node) -> bool:
    """The expression holds a string literal with ``*`` (plain, in an
    f-string or in a concatenation)."""
    return any(
        isinstance(n, ast.Constant) and isinstance(n.value, str) and "*" in n.value
        for n in ast.walk(node)
    )


def glob_path_reads(source: str) -> list[tuple[int, str]]:
    """``(line, enclosing function)`` of every ``.parquet(...)`` or
    ``.load(...)`` call in ``source`` that takes a glob path literal."""
    globbed = {
        node.func.lineno
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("parquet", "load")
        and any(
            _glob_literal(a)
            for a in node.args + [k.value for k in node.keywords]
        )
    }
    return sorted(
        site
        for attr in ("parquet", "load")
        for site in attribute_sites(source, attr)
        if site[0] in globbed
    )


def test_no_glob_path_reads():
    """Reads name their files: a glob path makes Spark infer the schema
    with a job, probe ``<glob>/_spark_metadata`` (a logged
    ``FileNotFoundException``) and pick up whatever matches on disk,
    committed or not."""
    sample = "\n".join([
        "def f(spark, d):",
        "    spark.read.parquet(f'{d}/batch-*')",
        "    spark.read.format('json').load(d + '/*.json')",
        "    spark.read.parquet(f'{d}/batch-1', 'x')",
        "    df.write.parquet(f'{d}/part')",
        "g = spark.read.load(path='a/*')",
    ])
    assert glob_path_reads(sample) == [(2, "f"), (3, "f"), (6, "")]
    offenders = [
        f"{path.relative_to(PKG.parent)}:{line}"
        for path in sorted(PKG.rglob("*.py"))
        for line, _fn in glob_path_reads(path.read_text())
    ]
    assert offenders == []


#: Public names that no production code references, each kept on
#: purpose. Keys are ``<path under lbf_spark/>:<name>``.
REACH_ALLOWLIST = {
    "parity.py:run_parity": "the parity gate run after any catalog edit (CLAUDE.md)",
    "parity.py:duckdb_conn": "parity tooling: DuckDB views over a testdata dir",
    "parity.py:oracle_output_types": "parity tooling: an oracle's DESCRIBE types",
    "parity.py:wide_type_leaks": "parity tooling: the oracle wide-type sweep",
    "sources/iceberg_interop.py:from_iceberg_metadata":
        "the exporter's round-trip reference reader",
    "sources/table.py:scan_files": "probe of manifest pruning: the files a scan reads",
    "streaming/stream_features.py:run_stream_to_memory":
        "harness for stream-equals-batch runs",
    "functions/audio.py:snr_db": "probe of the lossy audio codec's fidelity",
    "functions/audio.py:synth_video": "generator of FVC1 video clips",
}


def _production_files() -> list[pathlib.Path]:
    return [
        ROOT / "__spark_entry__.py",
        *sorted(ROOT.glob("bench*.py")),
        *sorted((ROOT / "jobs").rglob("*.py")),
        *sorted((ROOT / "perfbench").rglob("*.py")),
    ]


def _refs(node) -> set[str]:
    """Names a subtree refers to: identifiers, attribute names and
    ``from … import`` names — never strings, comments or docstrings."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
    return out


def _defined_names(stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        return [t.id for t in stmt.targets if isinstance(t, ast.Name)]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return []


def _registered(stmt) -> bool:
    """A catalog entry: the ``@q(...)`` decorator registers it."""
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", "") == "q"
        for d in getattr(stmt, "decorator_list", [])
    )


def unreached_public_names(
    sources: dict[str, str], production: list[str], allowed=()
) -> list[str]:
    """``<module>:<name>`` for every public top-level name of the
    ``sources`` modules ({relative path: source}) that no production
    code reaches. A module's other top-level statements and the
    ``production`` sources are the roots; a definition's body counts
    only once the definition itself is reached (iterated to a
    fixpoint, so code reached only from unreached code is unreached
    too), and never for its own name. The ``allowed`` keys count as
    reached. Module-level imports are not references: the use is."""
    defs = {}
    live = set()
    for mod, src in sources.items():
        for stmt in ast.parse(src).body:
            names = _defined_names(stmt)
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            if not names or _registered(stmt):
                live |= _refs(stmt)
                continue
            for name in names:
                defs[f"{mod}:{name}"] = (name, _refs(stmt) - {name})
    for src in production:
        live |= _refs(ast.parse(src))
    live |= {key.split(":")[1] for key in allowed}
    reached = set()
    grew = True
    while grew:
        grew = False
        for key, (name, refs) in defs.items():
            if key not in reached and name in live:
                reached.add(key)
                live |= refs
                grew = True
    return sorted(
        key for key, (name, _) in defs.items()
        if key not in reached and not name.startswith("_")
    )


def test_no_public_code_only_tests_reach():
    sample = {
        "m.py": "\n".join([
            "import os",
            "from x import y",
            "def used(): return _helper()",
            "def _helper(): return only_dead()",
            "def only_dead(): return 1",
            "def dead(): return only_dead() + dead()",
            "def recursive(): return recursive()",
            '"""mentions dead and recursive"""',
            "CONST = 3",
            "@q('q1_entry', None)",
            "def q1_entry(): return CONST",
        ]),
    }
    prod = ["from lbf_spark.m import used\nused()"]
    assert unreached_public_names(sample, prod) == ["m.py:dead", "m.py:recursive"]
    assert unreached_public_names(sample, prod, {"m.py:dead"}) == ["m.py:recursive"]
    sources = {
        path.relative_to(PKG).as_posix(): path.read_text()
        for path in sorted(PKG.rglob("*.py"))
    }
    production = [p.read_text() for p in _production_files()]
    assert unreached_public_names(sources, production, REACH_ALLOWLIST) == []
    # every allowlist entry names a definition production does not reach
    unreached = unreached_public_names(sources, production)
    assert [k for k in REACH_ALLOWLIST if k not in unreached] == []
    assert all(reason.strip() for reason in REACH_ALLOWLIST.values())
