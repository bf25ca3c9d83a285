"""Main CLI modes end-to-end: extract -> report -> sql-export -> sql-import."""

import os
import sqlite3

import pytest

from maillogsentinel_spark import app

LINE = ("Aug 12 06:57:{s:02d} srv1 postfix/smtps/smtpd[1]: warning: "
        "unknown[45.0.0.{o}]: SASL LOGIN authentication failed: "
        "(reason unavailable), sasl_username=u{o}@x.com,\n")


def test_cli_modes_end_to_end(spark, tmp_path, capsys, monkeypatch):
    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "mail.log").write_text("".join(LINE.format(s=i, o=i) for i in range(4)))
    wd = tmp_path / "work"
    ini = tmp_path / "mls.conf"
    ini.write_text(f"""[paths]
working_dir = {wd}
mail_log = {logs}/mail.log
csv_filename = maillogsentinel.csv
""")

    # extract (default mode); resolver injected for hermeticity
    monkeypatch.setattr(app, "_spark", lambda cfg: spark)
    cfg = app.load_config(str(ini))
    assert app.run_extract(cfg, year=2025, resolver=lambda ip: ("h-" + ip, None)) == 0
    store_rows = spark.read.parquet(str(wd / "store")).collect()
    assert len(store_rows) == 4

    # report for the log day
    assert app.main(["--config", str(ini), "--report", "--date", "12/08/2025"]) == 0
    out = capsys.readouterr().out
    assert "12/08/2025" in out and "4" in out

    # sql export then import
    assert app.main(["--config", str(ini), "--sql-export"]) == 0
    sql_path = capsys.readouterr().out.strip().splitlines()[-1]
    assert os.path.exists(sql_path)
    body = open(sql_path).read()
    assert body.startswith("BEGIN TRANSACTION;") and "INSERT INTO" in body

    assert app.main(["--config", str(ini), "--sql-import"]) == 0
    db = sqlite3.connect(str(wd / "maillogsentinel.sqlite"))
    n = db.execute("SELECT count(*) FROM maillogsentinel_events").fetchone()[0]
    assert n == 4
    # idempotent: re-import skips already-imported files
    assert app.main(["--config", str(ini), "--sql-import"]) == 0
    n2 = db.execute("SELECT count(*) FROM maillogsentinel_events").fetchone()[0]
    assert n2 == 4
    db.close()


def test_cli_reset_archives_data(spark, tmp_path, capsys, monkeypatch):
    logs = tmp_path / "logs2"
    logs.mkdir()
    (logs / "mail.log").write_text(LINE.format(s=0, o=0))
    wd = tmp_path / "work2"
    ini = tmp_path / "mls2.conf"
    ini.write_text(f"[paths]\nworking_dir = {wd}\nmail_log = {logs}/mail.log\n")

    monkeypatch.setattr(app, "_spark", lambda cfg: spark)
    cfg = app.load_config(str(ini))
    assert app.run_extract(cfg, year=2025, resolver=lambda ip: ("h", None)) == 0
    assert (wd / "store").exists()

    assert app.main(["--config", str(ini), "--reset"]) == 0
    archive = capsys.readouterr().out.strip()
    assert not (wd / "store").exists()
    assert os.path.isdir(archive) and os.path.isdir(os.path.join(archive, "store"))


def test_extract_timeout_raises_without_csv_mirror(spark, tmp_path, monkeypatch):
    """An ingest query still running at the timeout must fail the extract:
    no CSV mirror rewritten over a possibly partial store, no exit 0."""
    from maillogsentinel_spark.streaming import ingest

    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "mail.log").write_text("".join(LINE.format(s=i, o=i) for i in range(3)))
    wd = tmp_path / "work"
    ini = tmp_path / "mls.conf"
    ini.write_text(f"[paths]\nworking_dir = {wd}\nmail_log = {logs}/mail.log\n")

    real_start = ingest.start_ingest
    stopped = []

    class TimedOut:
        """The real query, reporting a timeout once it has written."""

        def __init__(self, q):
            self.q = q

        def awaitTermination(self, timeout=None):
            self.q.awaitTermination(120)
            return False

        def stop(self):
            stopped.append(True)
            self.q.stop()

    monkeypatch.setattr(
        ingest, "start_ingest", lambda *a, **kw: TimedOut(real_start(*a, **kw))
    )
    monkeypatch.setattr(app, "_spark", lambda cfg: spark)
    cfg = app.load_config(str(ini))
    with pytest.raises(TimeoutError):
        app.run_extract(cfg, year=2025, resolver=lambda ip: ("h", None))
    assert stopped == [True]
    # the store has rows, so only the timeout check kept the mirror away
    assert spark.read.parquet(str(wd / "store")).count() == 3
    assert not (wd / (cfg["csv_filename"] + ".d")).exists()


def test_ini_operational_knobs(tmp_path):
    # reference config.py:31-40 + :117-119 parity: [general] log_level,
    # [dns_cache] enabled/size/ttl_seconds, [report] sender_override +
    # subject_prefix all load with reference defaults when absent.
    ini = tmp_path / "knobs.conf"
    ini.write_text("""[general]
log_level = DEBUG
[dns_cache]
enabled = false
size = 9
ttl_seconds = 60
[report]
email = ops@example.org
sender_override = sentinel@mx.example.org
subject_prefix = [SEC]
""")
    cfg = app.load_config(str(ini))
    assert cfg["log_level"] == "DEBUG"
    assert cfg["dns_cache_enabled"] is False
    assert cfg["dns_cache_size"] == 9
    assert cfg["dns_cache_ttl_seconds"] == 60
    assert cfg["sender_override"] == "sentinel@mx.example.org"
    assert cfg["subject_prefix"] == "[SEC]"

    defaults = app.load_config(None)
    assert defaults["dns_cache_enabled"] is True
    assert defaults["dns_cache_size"] == 128
    assert defaults["dns_cache_ttl_seconds"] == 3600
    assert defaults["subject_prefix"] == "[MailLogSentinel]"
    assert defaults["sender_override"] is None


def test_report_send_uses_sender_override(spark, tmp_path, monkeypatch, capsys):
    from maillogsentinel_spark.plans.pipeline import build_events
    from maillogsentinel_spark.sources.store import write_events

    wd = tmp_path / "work2"
    lines = spark.createDataFrame(
        [(LINE.format(s=1, o=1).strip(),)], ["value"]
    )
    write_events(
        build_events(lines, 2025, lambda ip: ("h", None)), str(wd / "store")
    )
    ini = tmp_path / "send.conf"
    ini.write_text(f"""[paths]
working_dir = {wd}
[report]
email = ops@example.org
sender_override = sentinel@mx.example.org
subject_prefix = [SEC]
""")
    sent = {}
    from maillogsentinel_spark.report import email_sink

    monkeypatch.setattr(app, "_spark", lambda cfg: spark)
    monkeypatch.setattr(
        email_sink, "send_email", lambda msg, **kw: sent.update(msg=msg)
    )
    cfg = app.load_config(str(ini))
    assert app.run_report(cfg, "12/08/2025", send=True) == 0
    assert sent["msg"]["From"] == "sentinel@mx.example.org"
    assert sent["msg"]["Subject"].startswith("[SEC] ")


def test_log_file_rotation_knobs(tmp_path):
    import logging

    ini = tmp_path / "lg.conf"
    logf = tmp_path / "mls.log"
    ini.write_text(f"""[general]
log_level = WARNING
log_file = {logf}
log_file_max_bytes = 2048
log_file_backup_count = 3
""")
    cfg = app.load_config(str(ini))
    assert cfg["log_file_max_bytes"] == 2048
    assert cfg["log_file_backup_count"] == 3
    app.configure_logging(cfg)
    try:
        log = logging.getLogger("maillogsentinel_spark")
        assert log.level == logging.WARNING
        h = [x for x in log.handlers if hasattr(x, "maxBytes")]
        assert h and h[0].maxBytes == 2048 and h[0].backupCount == 3
        log.warning("hello rotation")
        for x in h:
            x.flush()
        assert "hello rotation" in logf.read_text()
    finally:
        for x in list(logging.getLogger("maillogsentinel_spark").handlers):
            logging.getLogger("maillogsentinel_spark").removeHandler(x)


def test_validate_config_doctor(tmp_path, capsys):
    """--validate-config: OK on a healthy config, FAIL (exit 1) with a
    named reason when a geo dim has dotted-quad bounds — the
    silently-empty-dim misconfiguration the doctor exists to catch."""
    logs = tmp_path / "mail.log"
    logs.write_text("x\n")
    good_dim = tmp_path / "geo.csv"
    good_dim.write_text("754974720,771751935,US\n")
    wd = tmp_path / "work"
    ini = tmp_path / "mls.conf"
    ini.write_text(f"""[paths]
working_dir = {wd}
mail_log = {logs}
[report]
email = sec@example.org
[geolocation]
country_db_path = {good_dim}
[ASN_ASO]
asn_db_path = {good_dim}
""")
    assert app.main(["--config", str(ini), "--validate-config"]) == 0
    out = capsys.readouterr().out
    assert "config valid" in out and "FAIL" not in out

    # dotted-quad bounds: present + readable, but semantically empty
    bad_dim = tmp_path / "geo_dotted.csv"
    bad_dim.write_text("45.0.0.0,45.0.0.255,US\n")
    ini.write_text(ini.read_text().replace(str(good_dim), str(bad_dim), 1))
    assert app.main(["--config", str(ini), "--validate-config"]) == 1
    out = capsys.readouterr().out
    assert "config INVALID" in out
    assert "bounds are not numeric" in out

    # missing mail.log is a FAIL too
    logs.unlink()
    assert app.main(["--config", str(ini), "--validate-config"]) == 1
