"""tools/check_correctness.py argument parsing: a query name that is
not a registry entry is an error, never a silent "0 passed" run."""

from __future__ import annotations

import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tool():
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(REPO, "tools", "check_correctness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_options_and_query_names_parse_in_any_order():
    args = _tool().parse_args(
        ["some_sf", "--json", "o.json", "word_count", "--vanilla", "topk_orders"]
    )
    assert args.sf_dir == "some_sf"
    assert args.queries == ["word_count", "topk_orders"]
    assert args.json_out == "o.json"
    assert args.vanilla


def test_no_query_names_means_the_whole_registry():
    args = _tool().parse_args(["some_sf"])
    assert args.queries == [] and not args.vanilla and args.json_out is None


def test_mistyped_query_name_fails_loudly(capsys):
    with pytest.raises(SystemExit) as exc:
        _tool().parse_args(["some_sf", "word_count", "wrod_count"])
    assert exc.value.code == 2
    err = capsys.readouterr().err
    assert "wrod_count" in err and "word_count " not in err
