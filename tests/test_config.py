"""O5 externalized config: defaults < properties file < env vars."""

from __future__ import annotations

from nytimes_batch_processor_spark.config import EngineConfig, load_properties


def test_defaults():
    cfg = EngineConfig.resolve(env={})
    assert cfg.sf_dir == "/root/testdata/sf0.1"
    assert cfg.effective_cpus() >= 1
    assert cfg.effective_shuffle_partitions() >= 4


def test_properties_file_layer(tmp_path):
    p = tmp_path / "engine.properties"
    p.write_text(
        "# engine deployment knobs\n"
        "sf_dir=/data/sf1=a=b\n"  # '=' inside a value survives
        "cpus=16\n"
        "driver_memory=32g\n"
    )
    cfg = EngineConfig.resolve(properties_file=str(p), env={})
    assert cfg.sf_dir == "/data/sf1=a=b"
    assert cfg.cpus == 16
    assert cfg.driver_memory == "32g"


def test_env_overrides_file(tmp_path):
    p = tmp_path / "engine.properties"
    p.write_text("cpus=16\nsf_dir=/data/sf1\n")
    env = {"SPARK_GRAFT_CPUS": "8", "SPARK_GRAFT_SHUFFLE_PARTITIONS": "24"}
    cfg = EngineConfig.resolve(properties_file=str(p), env=env)
    assert cfg.cpus == 8  # env beats file
    assert cfg.sf_dir == "/data/sf1"  # file beats default
    assert cfg.effective_shuffle_partitions() == 24


def test_load_properties_ignores_comments_and_blanks(tmp_path):
    p = tmp_path / "x.properties"
    p.write_text("\n# comment\nkey = value \n\nnoequals\n")
    assert load_properties(str(p)) == {"key": "value"}


def test_properties_file_via_env_pointer(tmp_path):
    """The file layer must be reachable without any caller passing the
    path: $SPARK_GRAFT_PROPERTIES points at it (get_spark resolves
    bare)."""
    p = tmp_path / "deploy.properties"
    p.write_text("cpus=12\n")
    cfg = EngineConfig.resolve(env={"SPARK_GRAFT_PROPERTIES": str(p)})
    assert cfg.cpus == 12
    # env var still beats the file it pointed at
    cfg = EngineConfig.resolve(
        env={"SPARK_GRAFT_PROPERTIES": str(p), "SPARK_GRAFT_CPUS": "6"}
    )
    assert cfg.cpus == 6


def test_type_coercion_uses_real_types(tmp_path):
    """Coercion dispatches on resolved type hints, not annotation
    strings — int fields coerce, str fields pass through, unknown file
    keys are ignored."""
    p = tmp_path / "x.properties"
    p.write_text("cpus=4\ndriver_memory=2g\nsome_unknown_knob=7\n")
    cfg = EngineConfig.resolve(properties_file=str(p), env={})
    assert cfg.cpus == 4 and isinstance(cfg.cpus, int)
    assert cfg.driver_memory == "2g"
