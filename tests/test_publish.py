"""Every publish site of the three formats goes through
``tableformat._publish``: a lost race raises ``ConcurrentCommitError`` (a
``FileExistsError`` too) and adds nothing; a lost acknowledgement of our
own put returns the version it published, exactly once, and fresh reads
see it."""

from __future__ import annotations

import ast
import os
import re
from pathlib import Path

import pytest

from monday_etl_spark import delta_import as di
from monday_etl_spark import iceberg_import as ii
from monday_etl_spark import tableformat as tf
from monday_etl_spark.delta_export import export_delta_log
from monday_etl_spark.iceberg_export import export_iceberg

from .test_delta_cdf import _cdf_table
from .test_logstore import ConflictOnceStore, LostAckStore, _df


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _published(final: str) -> int:
    """The version an export's returned log/metadata file publishes."""
    return int(re.match(r"v?(\d+)\.", os.path.basename(final)).group(1))


def _house(spark, tmp_path):
    path = str(tmp_path / "t")
    tf.write_versioned(_df(spark), path, key="id", n_buckets=4,
                       stats_cols=["id"])
    return path


def _iceberg(spark, tmp_path):
    path = _house(spark, tmp_path)
    export_iceberg(path)
    return path


def _delta_versions(path):
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        return []
    return di.delta_versions(path)


def _iceberg_versions(path):
    if not os.path.isdir(os.path.join(path, "metadata")):
        return []
    return sorted(ii.metadata_versions(path))


# format: (listed versions, publish target name of version v,
#          fresh read, read pinned at version v)
FORMATS = {
    "house": (
        tf.list_versions,
        lambda v: f"v{v:05d}.json",
        lambda spark, p: _rows(tf.read_version(spark, p)),
        lambda spark, p, v: _rows(tf.read_version(spark, p, v)),
    ),
    "tag": (
        lambda p: sorted(tf.list_tags(p).values()),
        lambda v: "rel.json",
        lambda spark, p: _rows(tf.read_tag(spark, p, "rel")),
        lambda spark, p, v: _rows(tf.read_version(spark, p, v)),
    ),
    "delta": (
        _delta_versions,
        lambda v: f"{v:020d}.json",
        lambda spark, p: _rows(di.read_delta(spark, p)),
        lambda spark, p, v: _rows(di.read_delta(spark, p, v)),
    ),
    "iceberg": (
        _iceberg_versions,
        lambda v: f"v{v}.metadata.json",
        lambda spark, p: _rows(ii.read_iceberg_table(spark, p)),
        lambda spark, p, v: _rows(
            ii.read_iceberg_table(spark, p, metadata_version=v)),
    ),
}


def _setup_delta_appended(spark, tmp_path):
    path = _cdf_table(spark, tmp_path)
    di.append_delta(spark, _df(spark, 5), path)
    return path


def _setup_iceberg_upserted(spark, tmp_path):
    path = _iceberg(spark, tmp_path)
    ii.upsert_iceberg(spark, _df(spark, 5), path, "id")
    return path


def _setup_iceberg_appended(spark, tmp_path):
    path = _iceberg(spark, tmp_path)
    ii.append_iceberg(spark, _df(spark, 5), path)
    return path


# site: (format, build the table, the publishing call -> its version)
SITES = {
    "house_write": ("house", lambda spark, tmp_path: str(tmp_path / "t"),
                    lambda spark, p: tf.write_versioned(
                        _df(spark), p, key="id", n_buckets=4)),
    "house_merge": ("house", _house,
                    lambda spark, p: tf.merge_versioned(
                        spark, p, _df(spark, 5))),
    "house_tag": ("tag", _house,
                  lambda spark, p: tf.create_tag(p, "rel")),
    "delta_append": ("delta", _cdf_table,
                     lambda spark, p: di.append_delta(
                         spark, _df(spark, 5), p)),
    "delta_upsert": ("delta", _cdf_table,
                     lambda spark, p: di.upsert_delta(
                         spark, _df(spark, 5), p, ["id"])),
    "delta_dv_delete": ("delta", _cdf_table,
                        lambda spark, p: di.delete_delta_where(
                            spark, p, "id", 2, 4)),
    "delta_compact": ("delta", _setup_delta_appended,
                      lambda spark, p: di.compact_delta(spark, p)),
    "delta_restore": ("delta", _setup_delta_appended,
                      lambda spark, p: di.restore_delta(spark, p, 0)),
    "delta_export": ("delta", _house,
                     lambda spark, p: _published(export_delta_log(p))),
    "iceberg_create": ("iceberg", lambda spark, tmp_path: str(tmp_path / "t"),
                       lambda spark, p: ii.create_iceberg_table(
                           p, [("id", "long"), ("v", "double")])),
    "iceberg_append": ("iceberg", _iceberg,
                       lambda spark, p: ii.append_iceberg(
                           spark, _df(spark, 5), p)),
    "iceberg_upsert": ("iceberg", _iceberg,
                       lambda spark, p: ii.upsert_iceberg(
                           spark, _df(spark, 5), p, "id")),
    "iceberg_compact": ("iceberg", _setup_iceberg_upserted,
                        lambda spark, p: ii.compact_iceberg(spark, p)),
    "iceberg_expire": ("iceberg", _setup_iceberg_appended,
                       lambda spark, p: ii.expire_iceberg_snapshots(
                           p, keep_last=1)),
    # a _publish_metadata op: branch creation is metadata-only
    "iceberg_branch": ("iceberg", _iceberg,
                       lambda spark, p: ii.create_iceberg_branch(p, "b")),
    "iceberg_export": ("iceberg", _house,
                       lambda spark, p: _published(export_iceberg(p))),
}


@pytest.fixture
def _restore_store():
    prev = tf.set_log_store(tf.LogStore())
    yield
    tf.set_log_store(prev)


def test_one_lost_race_error():
    assert issubclass(tf.ConcurrentCommitError, FileExistsError)
    assert issubclass(tf.ConcurrentCommitError, RuntimeError)
    assert issubclass(tf.TagExistsError, tf.RefError)
    assert issubclass(tf.TagExistsError, tf.ConcurrentCommitError)


@pytest.mark.parametrize("site", sorted(SITES))
def test_lost_race_raises_and_adds_nothing(spark, tmp_path, _restore_store,
                                           site):
    fmt, setup, call = SITES[site]
    versions, target, _read, _read_at = FORMATS[fmt]
    path = setup(spark, tmp_path)
    before = versions(path)
    want = before[-1] + 1 if before else (0 if fmt == "delta" else 1)
    tf.set_log_store(ConflictOnceStore(os.sep + target(want)))
    with pytest.raises(tf.ConcurrentCommitError) as err:
        call(spark, path)
    assert isinstance(err.value, FileExistsError)
    assert versions(path) == before


@pytest.mark.parametrize("site", sorted(SITES))
def test_lost_ack_returns_the_published_version(spark, tmp_path,
                                                _restore_store, site):
    fmt, setup, call = SITES[site]
    versions, target, read, read_at = FORMATS[fmt]
    path = setup(spark, tmp_path)
    before = versions(path)
    want = before[-1] + 1 if before else (0 if fmt == "delta" else 1)
    if fmt == "tag":
        want = tf.current_version(path)
    store = LostAckStore(os.sep + target(want))
    tf.set_log_store(store)
    assert call(spark, path) == want
    assert store.fired
    assert versions(path) == before + [want]
    assert read(spark, path) == read_at(spark, path, want)


def test_lost_ack_append_with_retries_commits_once(spark, tmp_path,
                                                   _restore_store):
    """The append retry re-publishes only after a real loss: a put that
    landed is this commit, not a reason to commit the same files again."""
    path = _cdf_table(spark, tmp_path)
    tf.set_log_store(LostAckStore(os.sep + f"{1:020d}.json"))
    assert di.append_delta(spark, _df(spark, 5), path, retries=1) == 1
    assert di.delta_versions(path) == [0, 1]
    assert len(_rows(di.read_delta(spark, path))) == 15


_PKG = Path(__file__).resolve().parent.parent / "monday_etl_spark"
# a replace onto one of these publishes a commit or a metadata version
_COMMIT_TARGET = re.compile(r"_log_dir|_LOG_DIR|_delta_log|metadata\.json")


def _calls(tree):
    """(enclosing function, function node, call node) for every call."""
    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            inner = child if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn
            if isinstance(child, ast.Call):
                yield inner, child
            yield from walk(child, inner)
    yield from walk(tree, None)


def _replace_targets(fn, dest):
    """The source text a replace destination can hold: the expression,
    and every assignment to it in the enclosing function."""
    texts = [ast.unparse(dest)]
    if isinstance(dest, ast.Name) and fn is not None:
        texts += [ast.unparse(n.value) for n in ast.walk(fn)
                  if isinstance(n, ast.Assign)
                  and any(isinstance(t, ast.Name) and t.id == dest.id
                          for t in n.targets)]
    return texts


def test_only_publish_calls_the_log_store():
    """A static scan of the package: no function but
    ``tableformat._publish`` calls ``put_if_absent``, and nothing
    ``os.replace``s into ``_delta_log/`` or onto a ``*.metadata.json``.
    ``delta_import.write_checkpoint`` is the one exception: a checkpoint
    is derived from commits, and the Delta spec lets a writer overwrite
    one."""
    puts, replaces, bad = set(), 0, []
    for py in sorted(_PKG.rglob("*.py")):
        mod = py.relative_to(_PKG).with_suffix("").as_posix()
        for fn, call in _calls(ast.parse(py.read_text())):
            name = fn.name if fn is not None else "<module>"
            f = call.func
            if isinstance(f, ast.Attribute) and f.attr == "put_if_absent":
                puts.add((mod, name))
            if (isinstance(f, ast.Attribute) and f.attr == "replace"
                    and isinstance(f.value, ast.Name)
                    and f.value.id == "os" and len(call.args) == 2):
                replaces += 1
                if (mod, name) == ("delta_import", "write_checkpoint"):
                    continue
                if any(_COMMIT_TARGET.search(t)
                       for t in _replace_targets(fn, call.args[1])):
                    bad.append(f"{mod}.{name}:{call.lineno}")
    assert puts == {("tableformat", "_publish")}
    assert replaces > 0  # the scan sees the package's replaces at all
    assert bad == []
