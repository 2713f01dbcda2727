"""Cold end-to-end benchmark of the melodist engine; see run.py."""
