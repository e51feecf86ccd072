"""Config surface: validation table, YAML file loading, TRANSLINK_* env
overrides — mirrors the reference's config tests
(``tests/config_test.rs:5-40``: invalid threshold rejected, env override
loading; ``src/config.rs:64-105``)."""

import dataclasses

import pytest

from translink.config import ENV_PREFIX, LinkConfig, load_config


@pytest.mark.parametrize("threshold,ok", [
    (0.0, True),
    (0.7, True),
    (1.0, True),
    (1.01, False),
    (-0.1, False),
])
def test_threshold_validation(threshold, ok):
    cfg = dataclasses.replace(LinkConfig(), threshold=threshold)
    if ok:
        assert cfg.validate() is cfg
    else:
        with pytest.raises(ValueError, match="threshold"):
            cfg.validate()


@pytest.mark.parametrize("field,value,msg", [
    ("num_hashes", 63, "multiple"),          # not divisible by lsh_bands
    ("max_block_size", 1, "max_block_size"),
    ("shingle_size", 0, "shingle_size"),
    ("salt_mode", "banana", "salt_mode"),
    ("cc_max_iterations", 0, "cc_max_iterations"),
])
def test_field_validation(field, value, msg):
    cfg = dataclasses.replace(LinkConfig(), **{field: value})
    with pytest.raises(ValueError, match=msg):
        cfg.validate()


def test_zero_weights_rejected():
    cfg = dataclasses.replace(
        LinkConfig(), w_jaccard=0.0, w_levenshtein=0.0, w_jaro_winkler=0.0
    )
    with pytest.raises(ValueError, match="weights"):
        cfg.validate()


def test_yaml_file_loading(tmp_path):
    p = tmp_path / "translink.yaml"
    p.write_text("threshold: 0.85\nmin_turns: 3\nsalt_mode: rank\n")
    cfg = load_config(path=str(p), env={})
    assert cfg.threshold == 0.85
    assert cfg.min_turns == 3
    assert cfg.salt_mode == "rank"
    # untouched fields keep defaults
    assert cfg.num_hashes == LinkConfig().num_hashes


def test_yaml_unknown_key_rejected(tmp_path):
    p = tmp_path / "bad.yaml"
    p.write_text("thresold: 0.9\n")
    with pytest.raises(ValueError, match="unknown config key"):
        load_config(path=str(p), env={})


def test_yaml_invalid_value_rejected(tmp_path):
    p = tmp_path / "bad2.yaml"
    p.write_text("threshold: 1.5\n")
    with pytest.raises(ValueError, match="threshold"):
        load_config(path=str(p), env={})


def test_env_overrides(tmp_path):
    env = {
        f"{ENV_PREFIX}THRESHOLD": "0.9",
        f"{ENV_PREFIX}MIN_TURNS": "2",
        f"{ENV_PREFIX}SALT_MODE": "rank",
        "UNRELATED": "x",
    }
    cfg = load_config(env=env)
    assert cfg.threshold == 0.9
    assert cfg.min_turns == 2
    assert cfg.salt_mode == "rank"


def test_env_overrides_file(tmp_path):
    """Precedence: env beats file (the reference loads file then applies
    DEDUPE_* overrides on top)."""
    p = tmp_path / "c.yaml"
    p.write_text("threshold: 0.6\n")
    cfg = load_config(path=str(p), env={f"{ENV_PREFIX}THRESHOLD": "0.95"})
    assert cfg.threshold == 0.95


def test_env_invalid_value_rejected():
    with pytest.raises(ValueError, match="threshold"):
        load_config(env={f"{ENV_PREFIX}THRESHOLD": "7"})


def test_env_typo_rejected():
    """A typo'd TRANSLINK_* override must fail fast, not silently no-op —
    same policy as unknown YAML keys."""
    with pytest.raises(ValueError, match="TRANSLINK_TRESHOLD"):
        load_config(env={"TRANSLINK_TRESHOLD": "0.8"})


def test_env_runtime_vars_ignored():
    """Runtime/session knobs (spark.local.dir, codec, heap) are not
    LinkConfig fields and must pass through without error."""
    cfg = load_config(env={
        "TRANSLINK_LOCAL_DIR": "/dev/shm/x",
        "TRANSLINK_IO_CODEC": "zstd",
        "TRANSLINK_DRIVER_MEM": "12g",
    })
    assert cfg == LinkConfig()


def test_env_coerces_by_annotation_over_none_base():
    """Coercion follows the field's type annotation, not the current value:
    an int|None field whose base value is None still gets an int, and the
    'none' literal clears it."""
    cfg = load_config(
        env={"TRANSLINK_ATTR_MAX_CHARS": "1024"},
        base=dataclasses.replace(LinkConfig(), attr_max_chars=None),
    )
    assert cfg.attr_max_chars == 1024
    cfg2 = load_config(env={"TRANSLINK_ATTR_MAX_CHARS": "none"})
    assert cfg2.attr_max_chars is None


def test_stream_redelivery_validation():
    with pytest.raises(ValueError, match="stream_redelivery"):
        LinkConfig(stream_redelivery="bogus").validate()
    assert LinkConfig(stream_redelivery="replace").validate()


def test_lsh_bands_zero_raises_diagnostic():
    """lsh_bands=0 must raise the named-knob ValueError, not
    ZeroDivisionError from the divisibility check."""
    import pytest as _pytest

    from translink.config import LinkConfig

    with _pytest.raises(ValueError, match="lsh_bands"):
        LinkConfig(lsh_bands=0).validate()


def test_default_driver_memory_fits_the_host(monkeypatch):
    """Without TRANSLINK_DRIVER_MEM the local driver heap is sized from the
    host and never exceeds MemTotal; the override still wins."""
    from translink.session import driver_memory

    monkeypatch.delenv("TRANSLINK_DRIVER_MEM", raising=False)
    default = driver_memory()
    assert default.endswith("m")
    try:
        with open("/proc/meminfo") as fh:
            total_kb = next(int(line.split()[1]) for line in fh
                            if line.startswith("MemTotal:"))
    except OSError:
        pytest.skip("no /proc/meminfo")
    assert 0 < int(default[:-1]) * 1024 <= total_kb
    monkeypatch.setenv("TRANSLINK_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"
