"""engine.session: the checkpoint directory get_spark creates is removed at
process exit."""

import os

from engine import session


class _Context:
    def __init__(self, ckpt=None):
        self.ckpt = ckpt

    def getCheckpointDir(self):
        return self.ckpt

    def setCheckpointDir(self, path):
        self.ckpt = path


def test_owned_checkpoint_dir_is_removed_at_exit(monkeypatch, tmp_path):
    registered = []
    monkeypatch.setattr(session.tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(
        session.atexit, "register",
        lambda fn, *a, **kw: registered.append((fn, a, kw)),
    )
    sc = _Context()
    path = session._own_checkpoint_dir(sc)
    assert sc.ckpt == path and os.path.isdir(path)
    assert os.path.basename(path).startswith("spark_graft_ckpt_")
    # Spark writes checkpoints into a per-context subdirectory
    os.makedirs(os.path.join(path, "ctx", "rdd-1"))
    open(os.path.join(path, "ctx", "rdd-1", "part-0"), "w").close()
    [(fn, args, kw)] = registered
    fn(*args, **kw)
    assert not os.path.exists(path)
    fn(*args, **kw)  # already gone: no error

