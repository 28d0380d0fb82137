"""EsAknn serving benchmark (see run.py)."""
