def pytest_configure(config):
    config.addinivalue_line("markers", "slow: runs a workload on a local Spark session")
