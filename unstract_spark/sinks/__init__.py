"""Sinks — D2-D6: dynamic-DDL database, review queue, file-history
ledger, error-row union (in operators), notification outbox. D1 (the
filesystem sink) is a plain `df.write`, so it has no module here.
"""
