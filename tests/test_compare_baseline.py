"""tools/compare_baseline.py argument parsing: ``--queries`` takes a
list without swallowing the rest of the command line, and a name that
is not a registry query (a misplaced ``sf_dir``, say) is an error."""

from __future__ import annotations

import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tool():
    spec = importlib.util.spec_from_file_location(
        "compare_baseline", os.path.join(REPO, "tools", "compare_baseline.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_queries_list_stops_at_next_option():
    args = _tool().parse_args(
        ["some_sf", "--queries", "word_count", "topk_orders", "--json", "o.json"]
    )
    assert args.sf_dir == "some_sf"
    assert args.queries == ["word_count", "topk_orders"]
    assert args.json_out == "o.json"


def test_defaults_without_arguments():
    import bench

    args = _tool().parse_args([])
    assert args.sf_dir == bench.SF_DIR
    assert args.queries == []
    assert args.json_out is None


def test_unknown_query_name_fails_loudly(capsys):
    with pytest.raises(SystemExit) as exc:
        _tool().parse_args(["--queries", "word_count", "some_sf"])
    assert exc.value.code == 2
    assert "some_sf" in capsys.readouterr().err
