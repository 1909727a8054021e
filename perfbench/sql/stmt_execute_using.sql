-- check: none
PREPARE q_eu FROM SELECT c_mktsegment, count(*) AS n, max(c_acctbal + ?) AS maxbal FROM customer WHERE c_custkey % ? = 0 AND c_mktsegment <> ? GROUP BY c_mktsegment
;
EXECUTE q_eu USING 100, 7, 'AUTOMOBILE'
;
-- check: none
DEALLOCATE PREPARE q_eu
